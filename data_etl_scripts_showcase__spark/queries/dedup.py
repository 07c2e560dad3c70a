"""Deduplication queries over `documents` (north-star extensions).

Exact, MinHash+LSH, n-gram Jaccard, SimHash, and embedding-cosine near-dup —
each a thin wrapper over ``..operators.dedup`` with a full DuckDB oracle that
reproduces the identical md5-derived hashes, bands, and pair sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as DD
from ..operators.similarity import cosine, dot, norm
from .text_analysis import QUALITY_SQL
from ..sources import load_table
from . import register
from ..ckpt import ckpt

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"

# Shared oracle CTEs: tokens → distinct word-3-gram shingles → exploded →
# 16-seed minhash signature (hashes identical to operators.dedup.h32).
_GRAMS_CTE = f"""
    n AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (
        SELECT doc_id,
               list_distinct(
                   list_transform(
                       range(1, greatest(len(toks) - 2, 0) + 1),
                       i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])
                   )
               ) AS grams
        FROM n
    ),
    e AS (SELECT doc_id, unnest(grams) AS sh FROM g)
"""

_BASE_H = "('0x' || substr(md5(sh), 1, 8))::BIGINT"
_MINS = ",\n           ".join(
    f"min(({_BASE_H} * {a} + {b}) % {DD.MINHASH_PRIME}) AS mh{s}"
    for s, (a, b) in enumerate(DD.PERMS)
)

_SIG_CTE = f"{_GRAMS_CTE}, sig AS (SELECT doc_id, {_MINS} FROM e GROUP BY doc_id)"


def _band_sql(b: int) -> str:
    cols = ", ".join(
        f"mh{b * DD.ROWS_PER_BAND + r}::VARCHAR" for r in range(DD.ROWS_PER_BAND)
    )
    return (
        f"SELECT doc_id, {b} AS band, md5(concat_ws('-', {cols})) AS bucket FROM sig"
    )


_BANDS_CTE = (
    _SIG_CTE
    + ", b AS ("
    + " UNION ALL ".join(_band_sql(b) for b in range(DD.N_BANDS))
    + ")"
)

_CAND_SQL = """
    SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
    FROM b x JOIN b y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
"""


@register(
    "d1_exact_dedup",
    oracle=f"""
    SELECT md5({_NORM}) AS fingerprint,
           min(doc_id) AS rep_id,
           CAST(count(*) AS BIGINT) AS dup_count
    FROM documents
    GROUP BY md5({_NORM})
    """,
    survey="NS-dedup (exact hash-groupBy)",
)
def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups: md5(normalized text) → representative + count."""
    return DD.exact_dedup(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        parallelism=spark.sparkContext.defaultParallelism,
    )


@register(
    "d2_minhash_signature",
    oracle=f"WITH {_SIG_CTE} SELECT * FROM sig",
    survey="NS-dedup (MinHash signatures)",
)
def d2_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-seed MinHash signature per document (one explode + one groupBy)."""
    return DD.minhash_signature(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        parallelism=spark.sparkContext.defaultParallelism,
    )


@register(
    "d3_lsh_candidate_pairs",
    oracle=f"WITH {_BANDS_CTE} {_CAND_SQL}",
    survey="NS-dedup (MinHash LSH banding)",
)
def d3_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs sharing any (band, bucket) — near-linear
    candidate generation instead of O(n²)."""
    docs = load_table(spark, sf_dir, "documents")
    sig = DD.minhash_signature(
        docs, "doc_id", "text", parallelism=spark.sparkContext.defaultParallelism
    )
    return DD.candidate_pairs(DD.lsh_buckets(sig, "doc_id"), "doc_id")


@register(
    "d4_jaccard_verified_pairs",
    oracle=f"""
    WITH {_BANDS_CTE},
    cand AS ({_CAND_SQL})
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
               / len(list_distinct(ga.grams || gb.grams)) AS jaccard
    FROM cand c
    JOIN g ga ON ga.doc_id = c.id_a
    JOIN g gb ON gb.doc_id = c.id_b
    WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
              / len(list_distinct(ga.grams || gb.grams)) >= 0.5
    """,
    survey="NS-dedup (n-gram Jaccard verification)",
)
def d4_jaccard_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard over the LSH candidates only (bounded set),
    keeping pairs with J ≥ 0.5 — the verify stage of MinHash dedup."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select("doc_id", DD.tokens("text").alias("_toks")).select(
        "doc_id", DD.ngrams_from_tokens(F.col("_toks")).alias("grams")
    )
    sig = DD.minhash_signature(
        docs, "doc_id", "text", parallelism=spark.sparkContext.defaultParallelism
    )
    cand = DD.candidate_pairs(DD.lsh_buckets(sig, "doc_id"), "doc_id")
    ga = grams.select(
        F.col("doc_id").alias("id_a"), F.col("grams").alias("grams_a")
    )
    gb = grams.select(
        F.col("doc_id").alias("id_b"), F.col("grams").alias("grams_b")
    )
    j = DD.jaccard(F.col("grams_a"), F.col("grams_b"))
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select("id_a", "id_b", j.alias("jaccard"))
        .where(F.col("jaccard") >= 0.5)
    )


_SIMHASH_SUMS = ",\n           ".join(
    f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
    for i in range(32)
)
_SIMHASH_VAL = " + ".join(
    f"(CASE WHEN b{i} > 0 THEN {2**i}::BIGINT ELSE 0::BIGINT END)" for i in range(32)
)
_SIMHASH_CTE = f"""
    {_GRAMS_CTE},
    eh AS (SELECT doc_id, ('0x' || substr(md5(concat('0:', sh)), 1, 8))::BIGINT AS h FROM e),
    sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM eh GROUP BY doc_id),
    sh AS (SELECT doc_id, {_SIMHASH_VAL} AS simhash FROM sums)
"""


@register(
    "d5_simhash_signature",
    oracle=f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM sh",
    survey="NS-dedup (SimHash)",
)
def d5_simhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (32 conditional sums in one groupBy)."""
    return DD.simhash32(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        parallelism=spark.sparkContext.defaultParallelism,
    )


@register(
    "d6_simhash_neardup_pairs",
    oracle=f"""
    WITH {_SIMHASH_CTE},
    ds AS (SELECT d.doc_id, d.source, sh.simhash FROM documents d JOIN sh ON d.doc_id = sh.doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM ds a JOIN ds b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
    """,
    survey="NS-dedup (SimHash hamming pairs, key-blocked)",
)
def d6_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within a blocking key (source), hamming ≤ 8.

    Blocking bounds the pair space; at scale the block key becomes the
    shuffle/bucketing key so each executor compares only its block.  Both
    joins are pinned shuffled-hash: the per-doc signature table is
    corpus-scaled, and an estimate-gated broadcast of it is the t14 class.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = DD.simhash32(
        docs, "doc_id", "text", parallelism=spark.sparkContext.defaultParallelism
    )
    ds = docs.select("doc_id", "source").join(sh.hint("shuffle_hash"), "doc_id")
    a = ds.select(
        F.col("source"),
        F.col("doc_id").alias("id_a"),
        F.col("simhash").alias("sim_a"),
    )
    b = ds.select(
        F.col("source"),
        F.col("doc_id").alias("id_b"),
        F.col("simhash").alias("sim_b"),
    )
    ham = DD.hamming32(F.col("sim_a"), F.col("sim_b"))
    return (
        a.join(b.hint("shuffle_hash"), "source")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .where(F.col("hamming") <= 8)
    )


@register(
    "d7_embedding_cosine_neardup",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS sim
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
    """,
    survey="NS-dedup (embedding-cosine near-dup, label-blocked)",
)
def d7_embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs within a label block, cosine ≥ 0.35.

    This is the deliberately-quadratic VERIFIABLE baseline (v2/v4 are the
    corpus-scale paths) — quadratic in cluster size by design, but the
    constant factor follows the d12 pair-stage discipline: norms are
    projected once per row (the naive cosine-per-pair redoes both sqrt
    passes for every pairing), and the streamed side is repartitioned so
    the probe fans across cores instead of inheriting the scan's single
    partition.  No forced broadcast: the planner auto-broadcasts the
    small side at test SF and shifts to a shuffled label join past the
    threshold."""
    e = load_table(spark, sf_dir, "embeddings")
    a = e.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("label"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("vec_a"),
        norm("embedding").alias("n_a"),
    )
    b = e.select(
        F.col("label"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vec_b"),
        norm("embedding").alias("n_b"),
    )
    pair_cos = F.when(
        (F.col("n_a") == 0.0) | (F.col("n_b") == 0.0), F.lit(0.0)
    ).otherwise(dot("vec_a", "vec_b") / (F.col("n_a") * F.col("n_b")))
    sim = F.round(pair_cos, 6)
    return (
        a.join(b, "label")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("sim"))
        .where(F.col("sim") >= 0.35)
    )


@register(
    "d8_dedup_survivors",
    oracle=f"""
    WITH {_BANDS_CTE},
    cand AS ({_CAND_SQL}),
    verified AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN g ga ON ga.doc_id = c.id_a
        JOIN g gb ON gb.doc_id = c.id_b
        WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                  / len(list_distinct(ga.grams || gb.grams)) >= 0.5
    ),
    drops AS (SELECT DISTINCT id_b AS doc_id FROM verified)
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(dr.doc_id) AS BIGINT) AS n_dropped,
           CAST(count(*) - count(dr.doc_id) AS BIGINT) AS n_kept
    FROM documents d LEFT JOIN drops dr ON d.doc_id = dr.doc_id
    GROUP BY d.source
    """,
    survey="NS-dedup (end-to-end dedup decision: LSH → verify → greedy min-id survivors)",
)
def d8_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup dedup pipeline as a drop decision: every document
    that is the HIGHER id in any verified pair (J ≥ 0.5) is dropped; the
    lower id survives as canonical.  This greedy min-id rule is the
    standard one-pass approximation of connected-components dedup used in
    training-data pipelines — no iteration, one anti-join.  The drop
    list is NOT force-broadcast (round 9, the t14 lesson): it scales
    with the corpus's duplicate mass — a heavily-duplicated crawl can
    drop most of its documents, making the list corpus-sized.  AQE picks
    broadcast from the RUNTIME size of the distinct's shuffle when the
    list is genuinely small, and shuffles by doc_id when it isn't —
    which a forced hint would have pinned into executor-memory risk."""
    docs = load_table(spark, sf_dir, "documents")
    verified = DD.verified_pairs(docs)
    drops = verified.select(F.col("id_b").alias("doc_id")).distinct()
    flagged = docs.join(
        drops.withColumn("_drop", F.lit(1)), "doc_id", "left"
    )
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count("_drop").alias("n_dropped"),
        (F.count("*") - F.count("_drop")).alias("n_kept"),
    )


@register(
    "d9_neardup_components",
    oracle=f"""
    WITH RECURSIVE
    {_BANDS_CTE},
    cand AS ({_CAND_SQL}),
    verified AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN g ga ON ga.doc_id = c.id_a
        JOIN g gb ON gb.doc_id = c.id_b
        WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                  / len(list_distinct(ga.grams || gb.grams)) >= 0.5
    ),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM verified
        UNION
        SELECT id_b AS a, id_a AS b FROM verified
    ),
    reach(id, r) AS (
        SELECT a, a FROM sym
        UNION
        SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.id
    )
    SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS component
    FROM reach GROUP BY id
    """,
    survey="NS-dedup (connected components over near-dup pairs — iterative label propagation)",
)
def d9_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT dedup clusters: connected components of the verified near-dup
    graph via iterative min-label propagation (operators/graph.py) — the
    transitive closure the greedy d8 rule approximates.  The oracle walks
    the same graph with a recursive CTE; both sides converge to the unique
    fixpoint labeling, so the comparison is exact."""
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    verified = DD.verified_pairs(docs)
    return connected_components(verified, "id_a", "id_b").select(
        F.col("id").alias("doc_id"), "component"
    )


# d10: benchmark-contamination check — word-5-gram shingles.
_GRAMS5_CTE = f"""
    n5 AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g5 AS (
        SELECT doc_id,
               list_distinct(
                   list_transform(
                       range(1, greatest(len(toks) - 4, 0) + 1),
                       i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2],
                                   ' ', toks[i+3], ' ', toks[i+4])
                   )
               ) AS grams
        FROM n5 WHERE len(toks) >= 5
    ),
    e5 AS (SELECT doc_id, unnest(grams) AS shingle FROM g5)
"""


@register(
    "d10_ngram_contamination",
    oracle=f"""
    WITH {_GRAMS5_CTE},
    bench AS (SELECT doc_id AS bench_doc_id, shingle FROM e5 WHERE doc_id % 20 = 0),
    corpus AS (SELECT doc_id AS corpus_doc_id, shingle FROM e5 WHERE doc_id % 20 <> 0),
    bn AS (SELECT bench_doc_id, count(*) AS bench_shingles FROM bench GROUP BY bench_doc_id),
    ov AS (
        SELECT corpus_doc_id, bench_doc_id, CAST(count(*) AS BIGINT) AS overlap
        FROM corpus JOIN bench USING (shingle)
        GROUP BY corpus_doc_id, bench_doc_id
    )
    SELECT o.corpus_doc_id, o.bench_doc_id, o.overlap,
           round(CAST(o.overlap AS DOUBLE) / b.bench_shingles, 6) AS contamination
    FROM ov o JOIN bn b USING (bench_doc_id)
    """,
    survey="NS-dedup (benchmark-contamination check: n-gram overlap vs held-out eval set)",
)
def d10_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: for every training document, the count
    and fraction of a held-out eval document's distinct word-5-grams that
    it contains (eval set stands in as `doc_id % 20 = 0`).  The standard
    decontamination pass run before any corpus ships to training.

    Scale shape: the eval side is always tiny relative to the corpus
    (thousands of benchmark docs vs billions of training docs), so its
    exploded shingle table is BROADCAST — the corpus-side shingle stream
    never shuffles, and contamination is a map-side join + one aggregate
    keyed by (corpus_doc, bench_doc).  Shingles stay distinct-per-doc so
    `overlap / bench_shingles` is a true containment fraction."""
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", DD.tokens("text").alias("t"))
        .where(F.size("t") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("t") - 4),
                        lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, F.lit(5))),
                    )
                )
            ).alias("shingle"),
        )
    )
    bench = sh.where(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("bench_doc_id"), "shingle"
    )
    corpus = sh.where(F.col("doc_id") % 20 != 0).select(
        F.col("doc_id").alias("corpus_doc_id"), "shingle"
    )
    bench_sizes = bench.groupBy("bench_doc_id").agg(
        F.count("*").alias("bench_shingles")
    )
    ov = (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("corpus_doc_id", "bench_doc_id")
        .agg(F.count("*").alias("overlap"))
    )
    return ov.join(F.broadcast(bench_sizes), "bench_doc_id").select(
        "corpus_doc_id",
        "bench_doc_id",
        "overlap",
        F.round(F.col("overlap").cast("double") / F.col("bench_shingles"), 6).alias(
            "contamination"
        ),
    )


@register(
    "d11_editdistance_verified_pairs",
    oracle=f"""
    WITH {_BANDS_CTE},
    cand AS ({_CAND_SQL}),
    nt AS (SELECT doc_id, {_NORM} AS ntext FROM documents)
    SELECT c.id_a, c.id_b,
           CAST(levenshtein(na.ntext, nb.ntext) AS INTEGER) AS edit_dist,
           round(1.0 - CAST(levenshtein(na.ntext, nb.ntext) AS DOUBLE)
                     / greatest(length(na.ntext), length(nb.ntext), 1), 6) AS ed_sim,
           round(1.0 - CAST(levenshtein(na.ntext, nb.ntext) AS DOUBLE)
                     / greatest(length(na.ntext), length(nb.ntext), 1), 6) >= 0.8
               AS is_neardup
    FROM cand c
    JOIN nt na ON na.doc_id = c.id_a
    JOIN nt nb ON nb.doc_id = c.id_b
    """,
    survey="NS-dedup (edit-distance verification over LSH candidates — char-level fuzzy dedup)",
)
def d11_editdistance_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup verification: Levenshtein distance and
    normalized similarity over the LSH candidate pairs, flagging pairs
    with ≥0.8 similarity.  Complements d4's token-set Jaccard — edit
    distance catches character-level edits (typos, small insertions) that
    token-set overlap under-weights.

    Levenshtein is O(len²) per pair, which is exactly why it runs ONLY on
    the LSH-bounded candidate set (25 pairs here, ~|near-dups| at scale)
    and never on the full corpus cross-product; the candidate list is the
    small side, so both text joins broadcast it."""
    docs = load_table(spark, sf_dir, "documents")
    nt = docs.select("doc_id", DD.normalize("text").alias("ntext"))
    sig = DD.minhash_signature(
        docs, "doc_id", "text", parallelism=spark.sparkContext.defaultParallelism
    )
    cand = DD.candidate_pairs(DD.lsh_buckets(sig, "doc_id"), "doc_id")
    na = nt.select(F.col("doc_id").alias("id_a"), F.col("ntext").alias("ntext_a"))
    nb = nt.select(F.col("doc_id").alias("id_b"), F.col("ntext").alias("ntext_b"))
    dist = F.levenshtein("ntext_a", "ntext_b")
    sim = F.round(
        1.0
        - dist.cast("double")
        / F.greatest(F.length("ntext_a"), F.length("ntext_b"), F.lit(1)),
        6,
    )
    return (
        cand.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            dist.cast("int").alias("edit_dist"),
            sim.alias("ed_sim"),
            (sim >= 0.8).alias("is_neardup"),
        )
    )


@register(
    "d12_semantic_dedup",
    oracle="""
    WITH dims AS (
        SELECT label, vec_id, i, CAST(embedding[i] AS DOUBLE) AS val
        FROM embeddings, LATERAL (
            SELECT unnest(range(1, len(embedding) + 1)) AS i
        )
    ),
    cent AS (
        SELECT label, list(cm ORDER BY i) AS cvec
        FROM (
            SELECT label, i, round(avg(val), 6) AS cm
            FROM dims GROUP BY label, i
        )
        GROUP BY label
    ),
    cc AS (
        SELECT e.vec_id, e.label,
               round(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), c.cvec), 6) AS cos_centroid
        FROM embeddings e JOIN cent c USING (label)
    ),
    prs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
    ),
    losers AS (
        SELECT DISTINCT CASE
                   WHEN ca.cos_centroid > cb.cos_centroid THEN p.id_a
                   WHEN cb.cos_centroid > ca.cos_centroid THEN p.id_b
                   ELSE greatest(p.id_a, p.id_b) END AS vec_id
        FROM prs p
        JOIN cc ca ON ca.vec_id = p.id_a
        JOIN cc cb ON cb.vec_id = p.id_b
    )
    SELECT cc.vec_id, cc.label, cc.cos_centroid,
           cc.vec_id IN (SELECT vec_id FROM losers) AS is_dropped
    FROM cc
    """,
    survey="NS-dedup (SemDeDup-style semantic dedup: cluster-blocked cosine pairs, keep the centroid-farthest)",
)
def d12_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication in the SemDeDup (Abbas et al. 2023, public)
    shape: block embeddings by cluster (the label column stands in for a
    k-means assignment — v8 provides the real one), compute each member's
    cosine to its CLUSTER CENTROID, find within-cluster near-dup pairs
    (cos ≥ 0.35), and from every pair DROP the member closer to the
    centroid — keeping the diverse outliers, which is what makes semantic
    dedup different from plain near-dup removal (d8 keeps min-id).
    Ties drop the higher vec_id.  Output: every vector with its
    cos-to-centroid and drop verdict.

    Scale shape: centroids are a (cluster × dim)-keyed mean — one shuffle,
    k·dim floats out, broadcast back onto the scan; pairwise cosine runs
    only WITHIN clusters (the LSH/cluster blocking discipline of d3/d7),
    so cost is Σ cluster_size², bounded by capping cluster size at
    assignment time, never corpus².  Centroid components round to 6 dp so
    the mean's accumulation order can't leak into the verdict."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("cm"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cm"))).alias("ps"))
        .select("label", F.expr("transform(ps, x -> x.cm)").alias("cvec"))
    )
    cc = e.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        F.round(cosine("embedding", "cvec"), 6).alias("cos_centroid"),
    )
    # Pair-stage plan (measured 5.9 s → 0.45 s at sf0.1, value-identical):
    # norms are computed ONCE PER ROW before the self-join — the naive
    # cosine-per-pair recomputes both vectors' norms for each of their
    # ~cluster_size pairings, so 2/3 of the pair work is redundant sqrt
    # passes — and the streamed side is repartitioned so the Σ size²
    # within-cluster probe fans across cores instead of inheriting the
    # single-row-group scan's one partition.  The other side is NOT
    # force-broadcast: at test SF the planner auto-broadcasts it (~1 MB),
    # streaming the repartitioned side; at corpus scale it exceeds the
    # threshold and the same code becomes a shuffled join on label —
    # forcing broadcast() here would pin the corpus into every executor.
    # dot/(na·nb) is the same float-op sequence as cosine(), and the
    # 6-dp round keeps the verdict order-insensitive.
    a = e.repartition(spark.sparkContext.defaultParallelism).select(
        "label",
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        norm("embedding").alias("na"),
    )
    b = e.select(
        "label",
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        norm("embedding").alias("nb"),
    )
    pair_cos = F.when(
        (F.col("na") == 0.0) | (F.col("nb") == 0.0), F.lit(0.0)
    ).otherwise(dot("va", "vb") / (F.col("na") * F.col("nb")))
    prs = (
        a.join(b, "label")
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.round(pair_cos, 6) >= 0.35)
        .select("id_a", "id_b")
    )
    ca = cc.select(F.col("vec_id").alias("id_a"), F.col("cos_centroid").alias("cca"))
    cb = cc.select(F.col("vec_id").alias("id_b"), F.col("cos_centroid").alias("ccb"))
    losers = (
        prs.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            F.when(F.col("cca") > F.col("ccb"), F.col("id_a"))
            .when(F.col("ccb") > F.col("cca"), F.col("id_b"))
            .otherwise(F.greatest("id_a", "id_b"))
            .alias("vec_id")
        )
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    # losers scales with the corpus's semantic-duplicate mass (up to n
    # rows), so it is NOT force-broadcast (round 9, the t14 lesson):
    # AQE broadcasts from the distinct's measured size when small and
    # shuffles by vec_id when not.
    return cc.join(losers, "vec_id", "left").select(
        "vec_id",
        "label",
        "cos_centroid",
        F.coalesce("__drop", F.lit(False)).alias("is_dropped"),
    )


@register(
    "d13_cross_snapshot_dedup",
    oracle=f"""
    WITH {_BANDS_CTE},
    old_fp AS (
        SELECT DISTINCT md5({_NORM}) AS fp FROM documents WHERE doc_id % 5 = 0
    ),
    new_docs AS (
        SELECT doc_id, md5({_NORM}) AS fp FROM documents WHERE doc_id % 5 <> 0
    ),
    cand AS (
        SELECT nb.doc_id, count(DISTINCT ob.doc_id) AS n_old_candidates
        FROM b nb JOIN b ob ON nb.band = ob.band AND nb.bucket = ob.bucket
        WHERE nb.doc_id % 5 <> 0 AND ob.doc_id % 5 = 0
        GROUP BY nb.doc_id
    )
    SELECT nd.doc_id,
           (nd.fp IN (SELECT fp FROM old_fp)) AS exact_dup,
           CAST(coalesce(c.n_old_candidates, 0) AS BIGINT) AS n_old_candidates,
           CASE WHEN nd.fp IN (SELECT fp FROM old_fp) THEN 'exact_dup'
                WHEN coalesce(c.n_old_candidates, 0) > 0 THEN 'near_dup_candidate'
                ELSE 'novel' END AS verdict
    FROM new_docs nd LEFT JOIN cand c USING (doc_id)
    """,
    survey="NS-dedup (cross-snapshot incremental dedup: new batch vs already-trained corpus, exact + LSH layers)",
)
def d13_cross_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup: screen a NEW document batch against the
    ALREADY-TRAINED snapshot (doc_id % 5 == 0 stands in for the old
    corpus) — the don't-train-on-it-twice gate every continually-updated
    LLM corpus needs.  Two layers, cheapest first: exact normalized-md5
    fingerprint match, then MinHash-LSH band-bucket candidates against
    the old side; verdict is exact_dup → near_dup_candidate → novel.

    Scale shape: the old corpus is represented by its FINGERPRINT and
    BUCKET tables (both tiny fractions of the text they summarize, stored
    once, reused every batch — never re-shingled); the new batch shingles
    once, and both probes are keyed joins (fp; band+bucket), so daily
    screening cost is O(new batch), not O(corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
    old_fp = (
        docs.where(F.col("doc_id") % 5 == 0).select(fp.alias("fp")).distinct()
        .withColumn("__seen", F.lit(True))
    )
    new_docs = docs.where(F.col("doc_id") % 5 != 0).select("doc_id", fp.alias("fp"))
    sig = DD.minhash_signature(
        docs, "doc_id", "text", parallelism=spark.sparkContext.defaultParallelism
    )
    buckets = DD.lsh_buckets(sig, "doc_id").transform(ckpt)  # round 10: new/old probe sides both read the banded index — one
    # compute of the corpus-wide shingle fold, not two (the materialized
    # LSH-index shape, same as candidate_pairs).
    newb = buckets.where(F.col("doc_id") % 5 != 0)
    oldb = buckets.where(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("old_id"), "band", "bucket"
    )
    cand = (
        newb.join(oldb, ["band", "bucket"])
        .groupBy("doc_id")
        .agg(F.countDistinct("old_id").alias("n_old_candidates"))
    )
    out = (
        new_docs.join(old_fp, "fp", "left")
        .join(cand, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("__seen", F.lit(False)).alias("exact_dup"),
            F.coalesce("n_old_candidates", F.lit(0)).cast("bigint").alias(
                "n_old_candidates"
            ),
        )
        .withColumn(
            "verdict",
            F.when(F.col("exact_dup"), "exact_dup")
            .when(F.col("n_old_candidates") > 0, "near_dup_candidate")
            .otherwise("novel"),
        )
    )
    return out


@register(
    "d14_lsh_capped_pairs",
    oracle=f"""
    WITH {_BANDS_CTE},
    keep AS (
        SELECT band, bucket FROM b GROUP BY band, bucket HAVING count(*) <= 2
    ),
    bk AS (SELECT b.* FROM b JOIN keep USING (band, bucket))
    SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
    FROM bk x JOIN bk y
      ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    """,
    survey="NS-dedup (LSH candidate join with hot-bucket skew guard)",
)
def d14_lsh_capped_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d3's candidate join with the bucket-size cap engaged (max 2 ids per
    bucket — deliberately tight so the guard is exercised on this data:
    the size-3 buckets drop).  On a real corpus a degenerate bucket of m
    boilerplate docs would emit m(m-1)/2 pairs; the cap filters those
    buckets BEFORE the self-join, and ``oversized_buckets`` accounts for
    everything skipped (asserted in tests — no silent truncation)."""
    docs = load_table(spark, sf_dir, "documents")
    sig = DD.minhash_signature(
        docs, "doc_id", "text", parallelism=spark.sparkContext.defaultParallelism
    )
    return DD.candidate_pairs(
        DD.lsh_buckets(sig, "doc_id"), "doc_id", max_bucket_size=2
    )


_PR_EDGES = f"""
    cand AS ({_CAND_SQL}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM cand
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM cand
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    deg AS (SELECT src AS id, count(*) AS d FROM edges GROUP BY src),
    nn AS (SELECT count(*) AS n FROM nodes)
"""


def _pr_iter_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
        SELECT e.dst AS id,
               (150000000000 // nn.n) + (85 * sum({prev}.r // deg.d)) // 100 AS r
        FROM edges e
        JOIN {prev} ON e.src = {prev}.id
        JOIN deg ON e.src = deg.id
        CROSS JOIN nn
        GROUP BY e.dst, nn.n
    )"""


@register(
    "pr1_pagerank_neardup",
    oracle=f"""
    WITH {_BANDS_CTE},
    {_PR_EDGES},
    r0 AS (SELECT id, (1000000000000 // nn.n) AS r FROM nodes CROSS JOIN nn),
    {_pr_iter_sql("r0", "r1")},
    {_pr_iter_sql("r1", "r2")},
    {_pr_iter_sql("r2", "r3")}
    SELECT id AS doc_id, CAST(r AS BIGINT) AS rank_pico FROM r3
    """,
    survey="NS-dedup extended (iterative graph algorithm: PageRank over the near-dup graph)",
)
def pr1_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank (d=0.85) over the LSH near-dup candidate graph
    — which documents sit at the CENTER of duplicate clusters (canonical-
    representative selection beyond d8's min-id rule).

    Determinism discipline: ranks live in integer PICO-units (1e12 = mass
    1) and every step is integer floor arithmetic — `r div deg`,
    `(85·Σ) div 100` — so Spark and DuckDB agree bit-for-bit with no
    float accumulation-order drift (the v9/x4 micro-unit rule applied to
    an iterative algorithm).

    Scale shape: each iteration is ONE join of the edge list against the
    current rank vector plus one keyed aggregate — state is 1 row/node,
    the same per-iteration plan GraphX/Pregel would schedule; the
    symmetric candidate graph means no dangling-mass correction is
    needed (every node has out-degree ≥ 1 by construction)."""
    docs = load_table(spark, sf_dir, "documents")
    sig = DD.minhash_signature(
        docs, "doc_id", "text", parallelism=spark.sparkContext.defaultParallelism
    )
    pairs = DD.candidate_pairs(DD.lsh_buckets(sig, "doc_id"), "doc_id")
    # Round 10 restructure (guide §2.4/§7.3, measured): the old shape
    # persisted `edges` but left its LINEAGE intact, so the 3-iteration
    # plan replayed the whole minhash/LSH pipeline per reference (~80
    # Exchange nodes — driver planning time dominated the query) and
    # re-joined `deg` every iteration.  localCheckpoint cuts the lineage
    # to a leaf, the out-degree is attached to the edge list ONCE, and
    # the node count becomes a driver constant (an O(1)-row aggregate,
    # the house collect rule) instead of four broadcast-joined
    # re-aggregations of the edge list.  Every arithmetic step and row
    # set is unchanged — exact integer PICO-unit PageRank.
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .transform(ckpt)
    )
    # deg is NODE-scaled: pin shuffle_hash so it never rides a
    # static-estimate broadcast (round 9, the t14 lesson).
    ewd = edges.join(
        edges.groupBy("src").agg(F.count("*").alias("d")).hint("shuffle_hash"),
        "src",
    ).transform(ckpt)
    n = edges.select("src").distinct().count()
    n0 = n or 1  # empty graph: r has zero rows, the seed value is unused
    r = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.lit(10**12 // n0).cast("bigint").alias("r")
    )
    for _ in range(3):
        # the rank vector is NODE-scaled too: same shuffle_hash pin.
        contrib = ewd.join(r.hint("shuffle_hash"), ewd.src == r.id).select(
            F.col("dst"), F.expr("r div d").alias("c")
        )
        r = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("id"),
                (
                    F.lit(150 * 10**9 // n0).cast("bigint")
                    + F.expr("(85 * s) div 100")
                ).alias("r"),
            )
        )
    return r.select(F.col("id").alias("doc_id"), F.col("r").cast("bigint").alias("rank_pico"))


@register(
    "d15_leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE
    {_BANDS_CTE},
    cand AS ({_CAND_SQL}),
    verified AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN g ga ON ga.doc_id = c.id_a
        JOIN g gb ON gb.doc_id = c.id_b
        WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                  / len(list_distinct(ga.grams || gb.grams)) >= 0.5
    ),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM verified
        UNION
        SELECT id_b AS a, id_a AS b FROM verified
    ),
    reach(id, r) AS (
        SELECT a, a FROM sym
        UNION
        SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.id
    ),
    comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
    grouped AS (
        SELECT d.doc_id, coalesce(c.component, d.doc_id) AS grp
        FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    split AS (
        SELECT doc_id, grp,
               CASE WHEN ('0x' || substr(md5(CAST(grp AS VARCHAR)), 1, 8))::BIGINT % 10 < 8
                    THEN 'train' ELSE 'val' END AS split
        FROM grouped
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT grp) AS BIGINT) AS n_groups
    FROM split GROUP BY split
    """,
    survey="NS-dedup extended (leakage-safe train/val split: near-dup groups never straddle)",
)
def d15_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val splitting that cannot leak near-duplicates across the
    boundary: split by the md5 of each document's NEAR-DUP GROUP (its
    connected component over verified LSH pairs; singletons group as
    themselves), so both members of every duplicate pair land on the same
    side by construction — the eval-contamination failure mode of naive
    per-doc splits (x13 splits per-row; this is the content-aware form).
    Leakage-zero is asserted pair-by-pair in tests.

    Scale shape: components state is 1 row/doc
    (operators/graph.connected_components over
    operators/dedup.verified_pairs); the split itself is one md5 of the
    group key — no extra shuffle beyond the component computation that
    dedup already runs."""
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    verified = DD.verified_pairs(docs)
    comp = connected_components(verified, "id_a", "id_b")
    grouped = docs.join(comp, docs.doc_id == comp.id, "left").select(
        docs.doc_id,
        F.coalesce(F.col("component"), docs.doc_id).alias("grp"),
    )
    split = grouped.withColumn(
        "split",
        F.when(
            F.conv(F.substring(F.md5(F.col("grp").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % 10
            < 8,
            "train",
        ).otherwise("val"),
    )
    return split.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("grp").cast("bigint").alias("n_groups"),
    )


@register(
    "d16_minhash_estimator_audit",
    oracle=f"""
    WITH {_SIG_CTE},
    mcte AS (
        SELECT greatest(20, CAST(ceil(count(*) / 500.0) AS BIGINT)) AS m
        FROM documents
    ),
    sd AS (
        SELECT doc_id FROM sig CROSS JOIN mcte WHERE doc_id % m = 0
    ),
    cand AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b
        FROM sd x JOIN sd y ON x.doc_id < y.doc_id
    )
    SELECT c.id_a, c.id_b,
           CAST(({" + ".join(f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(DD.N_SEEDS))})
                AS INTEGER) AS n_matching,
           round(CAST(({" + ".join(f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(DD.N_SEEDS))})
                AS DOUBLE) / {DD.N_SEEDS}, 6) AS jaccard_est,
           round(CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                     / greatest(len(list_distinct(ga.grams || gb.grams)), 1), 6)
               AS jaccard_exact
    FROM cand c
    JOIN sig a ON a.doc_id = c.id_a
    JOIN sig b ON b.doc_id = c.id_b
    JOIN g ga ON ga.doc_id = c.id_a
    JOIN g gb ON gb.doc_id = c.id_b
    """,
    survey="NS-dedup extended (estimator audit: MinHash agreement vs exact Jaccard per pair)",
)
def d16_minhash_estimator_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality audit for the dedup stack: on a deterministic
    sample of doc pairs, compare the MinHash Jaccard ESTIMATE (fraction
    of agreeing signature components) against the EXACT shingle Jaccard —
    the number that tells you whether 16 permutations / 4 bands is enough
    for your corpus before you trust d3/d4 at 100 TB.  The sample targets
    a CONSTANT doc budget (d22's discipline): the modulus
    m = max(20, ceil(n/500)) is derived from the corpus count, so the
    deliberately-quadratic audit side stays ~500 docs (~budget²/2 pairs
    of 16-int comparisons) at ANY scale — a fixed 1/20 rate audited
    (n/20)² pairs, which outran both engines at the 100x probe tier.
    The 20 floor preserves the historical test-SF sample."""
    docs = load_table(spark, sf_dir, "documents")
    sig = DD.minhash_signature(
        docs, "doc_id", "text", parallelism=spark.sparkContext.defaultParallelism
    )
    grams = docs.select("doc_id", DD.tokens("text").alias("_t")).select(
        "doc_id", DD.ngrams_from_tokens(F.col("_t")).alias("grams")
    )
    mrow = docs.agg(
        F.greatest(
            F.lit(20), F.ceil(F.count("*") / 500.0).cast("bigint")
        ).alias("m")
    )
    sample = (
        sig.crossJoin(F.broadcast(mrow))
        .where(F.col("doc_id") % F.col("m") == 0)
        .drop("m")
        # round 10: the sample is the non-equi self-join's BOTH sides —
        # as a lazy plan, the corpus-wide signature computation ran once
        # per side UNDER the nested-loop join (measured 6+ s at sf0.1 vs
        # 0.6 s from a leaf).  A constant ~budget-row relation: checkpoint.
        .transform(ckpt)
    )
    a = sample.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(DD.N_SEEDS)],
    )
    b = sample.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(DD.N_SEEDS)],
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    n_match = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(DD.N_SEEDS)
    ).cast("int")
    ga = grams.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("grams_a"))
    gb = grams.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("grams_b"))
    out = (
        pairs.withColumn("n_matching", n_match)
        .join(ga, "id_a")
        .join(gb, "id_b")
    )
    exact = F.size(F.array_intersect("grams_a", "grams_b")).cast("double") / \
        F.greatest(F.size(F.array_union("grams_a", "grams_b")), F.lit(1)).cast("double")
    return out.select(
        "id_a",
        "id_b",
        "n_matching",
        F.round(F.col("n_matching").cast("double") / DD.N_SEEDS, 6).alias(
            "jaccard_est"
        ),
        F.round(exact, 6).alias("jaccard_exact"),
    )


_VERIFIED_CTE = f"""
    cand AS ({_CAND_SQL}),
    verified AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN g ga ON ga.doc_id = c.id_a
        JOIN g gb ON gb.doc_id = c.id_b
        WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                  / len(list_distinct(ga.grams || gb.grams)) >= 0.5
    )
"""


@register(
    "pr2_triangle_count",
    oracle=f"""
    WITH {_BANDS_CTE},
    {_VERIFIED_CTE},
    eg AS (
        SELECT DISTINCT least(id_a, id_b) AS lo, greatest(id_a, id_b) AS hi
        FROM verified WHERE id_a <> id_b
    ),
    tri AS (
        SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
        FROM eg ab
        JOIN eg bc ON ab.hi = bc.lo
        JOIN eg ac ON ac.lo = ab.lo AND ac.hi = bc.hi
    ),
    nodes AS (SELECT lo AS v FROM eg UNION SELECT hi FROM eg),
    tn AS (SELECT a AS v FROM tri UNION SELECT b FROM tri UNION SELECT c FROM tri)
    SELECT CAST((SELECT count(*) FROM nodes) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM eg) AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM tri) AS BIGINT) AS n_triangles,
           CAST((SELECT count(*) FROM tn) AS BIGINT) AS n_tri_nodes
    """,
    survey="NS-dedup extended (triangle counting over the verified near-dup graph)",
)
def pr2_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the verified near-dup graph: how much of the
    duplicate structure is TRANSITIVELY closed (A~B~C~A) versus chained —
    the local-clustering signal that separates template families (dense,
    triangle-rich) from coincidental pair overlaps (triangle-free), used to
    pick cluster-level vs pair-level dedup policy.

    Operator: ``operators.graph.triangles`` — canonical low→high edge
    orientation, wedge join on the middle node, closing-edge lookup; each
    triangle counted exactly once, two shuffles on node ids, wedge volume
    bounded by the near-dup graph's capped degrees (d14's discipline).
    """
    from ..operators.graph import triangles

    docs = load_table(spark, sf_dir, "documents")
    verified = DD.verified_pairs(docs)
    # Round 10: localCheckpoint (not persist) — the four count branches
    # reference this relation repeatedly, and persist alone left the full
    # minhash/LSH lineage in the plan (~90 Exchange nodes of planning).
    # The triangle list is checkpointed too: `tri` feeds both the
    # n_triangles count and the tri-node distinct, which re-executed the
    # two wedge joins.  Tiny relations (near-dup edges/triangles), exact
    # same rows.
    edges = verified.transform(ckpt)
    tri = triangles(edges, "id_a", "id_b").transform(ckpt)
    e = edges.select(
        F.least("id_a", "id_b").alias("lo"), F.greatest("id_a", "id_b").alias("hi")
    ).where(F.col("lo") != F.col("hi")).distinct()
    nodes = (
        e.select(F.col("lo").alias("v"))
        .unionByName(e.select(F.col("hi").alias("v")))
        .distinct()
    )
    tn = (
        tri.select(F.col("a").alias("v"))
        .unionByName(tri.select(F.col("b").alias("v")))
        .unionByName(tri.select(F.col("c").alias("v")))
        .distinct()
    )
    return (
        nodes.agg(F.count("*").alias("n_nodes"))
        .crossJoin(e.agg(F.count("*").alias("n_edges")))
        .crossJoin(tri.agg(F.count("*").alias("n_triangles")))
        .crossJoin(tn.agg(F.count("*").alias("n_tri_nodes")))
    )


@register(
    "d18_containment_pairs",
    oracle=f"""
    WITH {_BANDS_CTE},
    cand AS ({_CAND_SQL})
    SELECT c.id_a, c.id_b,
           round(CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                     / len(list_distinct(ga.grams || gb.grams)), 6) AS jaccard,
           round(CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                     / greatest(len(ga.grams), 1), 6) AS contain_a_in_b,
           round(CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                     / greatest(len(gb.grams), 1), 6) AS contain_b_in_a
    FROM cand c
    JOIN g ga ON ga.doc_id = c.id_a
    JOIN g gb ON gb.doc_id = c.id_b
    WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
              / greatest(least(len(ga.grams), len(gb.grams)), 1) >= 0.5
    """,
    survey="NS-dedup extended (asymmetric containment: quote/excerpt detection beyond symmetric Jaccard)",
)
def d18_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment scoring over the LSH candidate pairs:
    ``|A∩B| / |A|`` alongside symmetric Jaccard.  A short document quoted
    inside a long one has HIGH containment but LOW Jaccard — symmetric
    near-dup dedup (d4/d8) misses exactly the excerpt/quotation/subset
    duplication that inflates training corpora (one viral paragraph pasted
    into thousands of pages).  Pairs are kept when the smaller side is
    ≥ 50% contained in the other.  Same scale shape as d4: scoring only
    runs on the LSH-bounded candidate set, never all pairs; shingle sets
    ride the same join keyed by doc id."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select("doc_id", DD.tokens("text").alias("_toks")).select(
        "doc_id", DD.ngrams_from_tokens(F.col("_toks")).alias("grams")
    )
    sig = DD.minhash_signature(
        docs, "doc_id", "text", parallelism=spark.sparkContext.defaultParallelism
    )
    cand = DD.candidate_pairs(DD.lsh_buckets(sig, "doc_id"), "doc_id")
    # Containment/Jaccard are pure size arithmetic (|A|, |B|, |A∩B|), so
    # the gram arrays that ride the candidate joins are hashed to 8-byte
    # xxhash64 digests first (VERDICT r8 #1, same fixed-width discipline
    # as d22/d12): the per-pair shuffle payload stops scaling with string
    # gram width, and all three sizes are preserved exactly absent a
    # 64-bit collision.  Union comes from |A|+|B|−|A∩B| (grams are
    # distinct by construction), skipping the array_distinct(concat)
    # materialization per pair.
    #
    # Collision bound (VERDICT r9 #7 — containment is exactness-sensitive
    # to a single collision INSIDE one candidate pair's digest multiset):
    # testdata docs top out at ~100 tokens, so even the ×512 doc-length
    # tier caps a doc at ~51,200 trigrams and a pair at n ≤ 102,400
    # digests.  P(any collision within a pair) ≤ n(n−1)/2^65 ≈ 2.8e-10,
    # and one collision shifts one size by exactly 1 gram (≥1e-5 of lmin
    # only below 100k grams — i.e. a containment error ≤ ~2e-5, which
    # flips a pair only if it sits exactly on the 0.5 threshold).  At the
    # gate tiers (≤×128 length, ≤ ~1e6 candidate pairs) the expected
    # collision count is ≤ ~3e-4; at an extreme 1e10-pair corpus a
    # handful of boundary pairs could be misscored by one gram — the
    # same accepted engine-wide tradeoff as every other xxhash64
    # fingerprint (d1/d22), and property-tested exact on adversarial
    # gram sets in tests/test_properties.py.
    digs = F.transform("grams", lambda g: F.xxhash64(g))
    ga = grams.select(F.col("doc_id").alias("id_a"), digs.alias("grams_a"))
    gb = grams.select(F.col("doc_id").alias("id_b"), digs.alias("grams_b"))
    inter_n = F.size(F.array_intersect("grams_a", "grams_b"))
    inter = inter_n.cast("double")
    union = F.size("grams_a") + F.size("grams_b") - inter_n
    la = F.greatest(F.size("grams_a"), F.lit(1))
    lb = F.greatest(F.size("grams_b"), F.lit(1))
    lmin = F.greatest(F.least(F.size("grams_a"), F.size("grams_b")), F.lit(1))
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .where(inter / lmin >= 0.5)
        .select(
            "id_a",
            "id_b",
            F.round(inter / union, 6).alias("jaccard"),
            F.round(inter / la, 6).alias("contain_a_in_b"),
            F.round(inter / lb, 6).alias("contain_b_in_a"),
        )
    )


def _lp_iter_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
        SELECT id, lab AS community FROM (
            SELECT e.a AS id, {prev}.community AS lab, count(*) AS n,
                   row_number() OVER (
                       PARTITION BY e.a
                       ORDER BY count(*) DESC, {prev}.community ASC
                   ) AS rn
            FROM lp_edges e JOIN {prev} ON e.b = {prev}.id
            GROUP BY e.a, {prev}.community
        ) WHERE rn = 1
    )"""


@register(
    "pr3_label_propagation",
    oracle=f"""
    WITH {_BANDS_CTE},
    cand AS ({_CAND_SQL}),
    lp_edges AS (
        SELECT id_a AS a, id_b AS b FROM cand
        UNION
        SELECT id_b AS a, id_a AS b FROM cand
    ),
    nodes AS (SELECT DISTINCT a AS id FROM lp_edges),
    lp0 AS (SELECT id, id AS community FROM nodes),
    {_lp_iter_sql("lp0", "lp1")},
    {_lp_iter_sql("lp1", "lp2")},
    {_lp_iter_sql("lp2", "lp3")}
    SELECT id AS doc_id, CAST(community AS BIGINT) AS community FROM lp3
    """,
    survey="NS-dedup extended (label-propagation communities: majority-label iteration with deterministic ties)",
)
def pr3_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the LSH candidate graph by 3 rounds of
    synchronous label propagation — where d9's connected components merge
    everything REACHABLE, LP splits a component along its dense cores
    (majority vote of neighbor labels, ties to the smallest label), the
    granularity used to pick canonical representatives inside large
    near-dup families.  Fixed iteration count + total (count DESC, label
    ASC) ordering = bit-exact reproducibility on any engine (pr1's
    determinism discipline, applied to a voting rather than summing
    iteration).  Per round: one edge join + one (node, label) aggregate
    + one argmax window — state 1 row/node, same Pregel schedule as
    pr1/d9."""
    from ..operators.graph import label_propagation

    docs = load_table(spark, sf_dir, "documents")
    sig = DD.minhash_signature(
        docs, "doc_id", "text", parallelism=spark.sparkContext.defaultParallelism
    )
    pairs = DD.candidate_pairs(DD.lsh_buckets(sig, "doc_id"), "doc_id")
    out = label_propagation(pairs, "id_a", "id_b", n_iter=3)
    return out.select(F.col("id").alias("doc_id"), "community")


@register(
    "d20_canonical_selection",
    oracle=f"""
    WITH RECURSIVE
    {_BANDS_CTE},
    {_VERIFIED_CTE},
    sym AS (
        SELECT id_a AS a, id_b AS b FROM verified
        UNION
        SELECT id_b AS a, id_a AS b FROM verified
    ),
    reach(id, r) AS (
        SELECT a, a FROM sym
        UNION
        SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.id
    ),
    comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
    q AS (SELECT doc_id, round(quality_score, 6) AS qs FROM ({QUALITY_SQL}) t),
    ranked AS (
        SELECT c.component, c.doc_id, q.qs,
               row_number() OVER (
                   PARTITION BY c.component ORDER BY q.qs DESC, c.doc_id ASC
               ) AS rn
        FROM comp c JOIN q ON q.doc_id = c.doc_id
    )
    SELECT CAST(component AS BIGINT) AS component,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS canonical_doc,
           round(max(CASE WHEN rn = 1 THEN qs END), 6) AS canonical_quality
    FROM ranked GROUP BY component
    """,
    survey="NS-dedup extended (canonical selection: keep the highest-quality copy per near-dup cluster)",
)
def d20_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: inside each exact near-dup
    cluster (d9's connected components), keep the HIGHEST-QUALITY copy
    (t2's heuristic, ties to the smallest id) instead of d8's blind
    min-id rule — real training pipelines keep the cleanest rendering of
    a duplicated page, not the first-crawled one.  Output per cluster:
    size, the canonical doc, and its quality.  The plan composes three
    existing operators (LSH verify → iterative CC → broadcast-joined
    quality scores + one argmax window keyed on the component) — no new
    shuffle shapes, which is the point: dedup policy changes are
    plan-level swaps, not rewrites."""
    from ..operators.graph import connected_components
    from ..operators import text as TX

    docs = load_table(spark, sf_dir, "documents")
    verified = DD.verified_pairs(docs)
    comp = connected_components(verified, "id_a", "id_b").select(
        F.col("id").alias("doc_id"), "component"
    )
    q = docs.select(
        "doc_id", F.round(TX.quality_score("text"), 6).alias("qs")
    )
    from pyspark.sql import Window as W

    ranked = comp.join(q, "doc_id").withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("component").orderBy(
                F.col("qs").desc(), F.col("doc_id").asc()
            )
        ),
    )
    return ranked.groupBy("component").agg(
        F.count("*").alias("n_members"),
        F.min(F.when(F.col("rn") == 1, F.col("doc_id")))
        .cast("bigint")
        .alias("canonical_doc"),
        F.round(F.max(F.when(F.col("rn") == 1, F.col("qs"))), 6).alias(
            "canonical_quality"
        ),
    )


#: d22's exact-Jaccard audit side targets a CONSTANT number of sampled
#: documents regardless of corpus size (pair budget ≈ AUDIT_DOC_BUDGET²/2),
#: so the quadratic side does not grow with SF: the sampling modulus is
#: derived from the corpus count, not fixed.
AUDIT_DOC_BUDGET = 1000


@register(
    "d22_lsh_scurve_audit",
    oracle=f"""
    WITH {_BANDS_CTE},
    cand AS ({_CAND_SQL}),
    mcte AS (
        SELECT greatest(1, CAST(ceil(count(*) / {AUDIT_DOC_BUDGET}.0) AS BIGINT)) AS m
        FROM documents
    ),
    da AS (SELECT doc_id, grams FROM g CROSS JOIN mcte WHERE doc_id % m = 0),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                   / greatest(len(list_distinct(a.grams || b.grams)), 1) AS j
        FROM da a JOIN da b ON a.doc_id < b.doc_id
    ),
    bucketed AS (
        SELECT least(CAST(floor(j * 10) AS INTEGER), 9) AS j_bucket,
               id_a, id_b
        FROM pairs
    ),
    joined AS (
        SELECT bk.j_bucket,
               CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS is_cand
        FROM bucketed bk
        LEFT JOIN cand c ON c.id_a = bk.id_a AND c.id_b = bk.id_b
    )
    SELECT j_bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(is_cand) AS BIGINT) AS n_candidates,
           round(CAST(sum(is_cand) AS DOUBLE) / count(*), 6) AS observed_rate,
           round(1.0 - pow(1.0 - pow(j_bucket / 10.0 + 0.05, {DD.ROWS_PER_BAND}), {DD.N_BANDS}), 6) AS theoretical_rate,
           (SELECT m FROM mcte) AS sample_modulus
    FROM joined GROUP BY j_bucket
    """,
    survey="NS-dedup extended (LSH calibration: observed candidate rate per Jaccard bucket vs the (b,r) S-curve)",
)
def d22_lsh_scurve_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the LSH tuned right?  The (bands, rows) parameters imply an
    S-curve P(candidate | J) = 1 − (1 − J^r)^b; this audit measures the
    OBSERVED candidate rate in each Jaccard decile against the curve at
    the decile midpoint — the calibration plot that decides whether to
    re-band before trusting recall at 100 TB.  The all-pairs exact
    Jaccard is the audit's cost (quadratic, affordable at test SF,
    sampled in production — same discipline as v6/a28's exact sides);
    the candidate set under test is the production bucket join.

    The exact side is bounded by a PAIR BUDGET, not a fixed sampling
    rate: the modulus m = ceil(n_docs / AUDIT_DOC_BUDGET) is derived from
    the corpus count so the sampled side stays ~AUDIT_DOC_BUDGET docs
    (~budget²/2 pairs) at ANY scale — a fixed 1/k rate would still grow
    the pair count quadratically with the corpus.  The effective modulus
    ships in the output (`sample_modulus`) so no truncation is silent."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select("doc_id", DD.tokens("text").alias("_toks")).select(
        "doc_id", DD.ngrams_from_tokens(F.col("_toks")).alias("grams")
    )
    sig = DD.minhash_signature(
        docs, "doc_id", "text", parallelism=spark.sparkContext.defaultParallelism
    )
    cand = DD.candidate_pairs(DD.lsh_buckets(sig, "doc_id"), "doc_id").withColumn(
        "is_cand", F.lit(1)
    )
    # Budget-derived modulus as a broadcast 1-row aggregate (collect-free;
    # same pattern as the engine-wide audited scalar crossJoins).
    mrow = docs.agg(
        F.greatest(
            F.lit(1),
            F.ceil(F.count("*") / float(AUDIT_DOC_BUDGET)).cast("bigint"),
        ).alias("m")
    )
    sampled = (
        grams.crossJoin(F.broadcast(mrow))
        .where(F.col("doc_id") % F.col("m") == 0)
        .drop("m")
        # round 10: both audit-pair sides read this ~budget-row sample —
        # the leaf tokenizes/shingles the corpus once, not per side
        # (d16's fix applied here).
        .transform(ckpt)
    )
    # The audited pair population is ~budget²/2 rows of array_intersect —
    # CPU-bound, so two plan choices matter (measured 14.4 s → 1.2 s at
    # sf0.1 together): (1) the STREAMED side is repartitioned so the
    # nested-loop join fans across cores instead of inheriting the
    # single-row-group scan's one partition (the other side — also
    # budget-bounded — is broadcast explicitly, else Spark may broadcast
    # the repartitioned side and stream the 1-partition one); (2) Jaccard
    # comes from sizes, |A∩B| / (|A|+|B|−|A∩B|) — exact because grams are
    # array_distinct'ed — which skips materializing an array_union per
    # pair (2.3× of the win).
    digs = F.transform("grams", lambda g: F.xxhash64(g))
    ga = (
        sampled.repartition(spark.sparkContext.defaultParallelism)
        .select(
            F.col("doc_id").alias("id_a"),
            digs.alias("grams_a"),
            F.size("grams").alias("n_a"),
        )
    )
    gb = sampled.select(
        F.col("doc_id").alias("id_b"),
        digs.alias("grams_b"),
        F.size("grams").alias("n_b"),
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    # gb is budget-bounded in DOC COUNT (~1000 sampled docs) but its gram
    # arrays grow with document LENGTH, so the broadcast payload is
    # O(sample_docs x grams_per_doc x BYTES_PER_GRAM).  The per-gram width
    # is capped at 8 bytes by hashing every gram to an xxhash64 digest
    # BEFORE the join (VERDICT r8 #1, the d12 fixed-width discipline):
    # Jaccard here is computed purely from |A|, |B|, |A∩B|, and a 64-bit
    # hash of distinct string grams preserves all three sizes exactly
    # absent a collision (probability ~n²/2⁶⁵ per doc pair — negligible
    # against the oracle's exact-string sides at any probed tier, and the
    # longdocs gate verifies value-exactness at x128 doc length).  The
    # string grams themselves never leave the scan stage.
    pairs = (
        ga.crossJoin(F.broadcast(gb))
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                inter.cast("double")
                / F.greatest(F.col("n_a") + F.col("n_b") - inter, F.lit(1))
            ).alias("j"),
        )
    )
    bucketed = pairs.select(
        F.least(F.floor(F.col("j") * 10).cast("int"), F.lit(9)).alias("j_bucket"),
        "id_a",
        "id_b",
    )
    joined = bucketed.join(cand, ["id_a", "id_b"], "left").select(
        "j_bucket", F.coalesce("is_cand", F.lit(0)).alias("is_cand")
    )
    theo = F.round(
        1.0
        - F.pow(
             1.0 - F.pow(F.col("j_bucket") / 10.0 + 0.05, DD.ROWS_PER_BAND),
            DD.N_BANDS,
        ),
        6,
    )
    return (
        joined.groupBy("j_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("is_cand").cast("bigint").alias("n_candidates"),
            F.round(F.sum("is_cand").cast("double") / F.count("*"), 6).alias(
                "observed_rate"
            ),
            theo.alias("theoretical_rate"),
        )
        .crossJoin(F.broadcast(mrow.select(F.col("m").alias("sample_modulus"))))
    )


@register(
    "d24_dedup_savings_report",
    oracle=f"""
    WITH f AS (
        SELECT doc_id, source,
               md5({_NORM}) AS fp,
               len({_TOKS}) AS n_tok
        FROM documents
    ),
    rep AS (SELECT fp, min(doc_id) AS rep_id FROM f GROUP BY fp),
    lab AS (
        SELECT f.source, f.n_tok,
               CASE WHEN f.doc_id = rep.rep_id THEN 0 ELSE 1 END AS is_dup
        FROM f JOIN rep USING (fp)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(is_dup) AS BIGINT) AS n_removed,
           CAST(sum(n_tok) AS BIGINT) AS tokens_total,
           CAST(sum(CASE WHEN is_dup = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_removed,
           round(CAST(sum(CASE WHEN is_dup = 1 THEN n_tok ELSE 0 END) AS DOUBLE)
                 / greatest(sum(n_tok), 1), 6) AS token_savings
    FROM lab GROUP BY source
    """,
    survey="NS-dedup extended (dedup payoff report: docs and tokens removed per source by exact first-wins dedup — the budget readout)",
)
def d24_dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What did dedup actually buy, per source?  Exact first-wins dedup
    (d1's fingerprint groups, min-doc_id representative) projected into
    the number every budget meeting asks for: docs and TOKENS removed per
    source, and the token savings fraction — the per-slice readout that
    decides which crawls are worth re-fetching.  One fingerprint
    aggregate (the only corpus shuffle), one broadcast-size rep table
    joined back on the digest, one per-source aggregate; O(sources)
    output at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    f = d.select(
        "doc_id",
        "source",
        F.md5(DD.normalize("text")).alias("fp"),
        F.size(DD.tokens("text")).alias("n_tok"),
    )
    rep = f.groupBy("fp").agg(F.min("doc_id").alias("rep_id"))
    lab = f.join(rep, "fp").select(
        "source",
        "n_tok",
        F.when(F.col("doc_id") == F.col("rep_id"), 0).otherwise(1).alias("is_dup"),
    )
    return lab.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("is_dup").cast("bigint").alias("n_removed"),
        F.sum("n_tok").cast("bigint").alias("tokens_total"),
        F.sum(F.when(F.col("is_dup") == 1, F.col("n_tok")).otherwise(0))
        .cast("bigint")
        .alias("tokens_removed"),
        F.round(
            F.sum(F.when(F.col("is_dup") == 1, F.col("n_tok")).otherwise(0)).cast(
                "double"
            )
            / F.greatest(F.sum("n_tok"), F.lit(1)),
            6,
        ).alias("token_savings"),
    )
