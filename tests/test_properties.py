"""Property-based tests (SURVEY.md §5.4, hypothesis).

Each example generates a whole DataFrame (not one row) so a property runs
as one Spark job; max_examples is kept small because the properties are
over sets of rows, not individual values.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_etl_scripts_showcase__spark.functions import bool_to_int, dsum2, lossy_int
from data_etl_scripts_showcase__spark.operators.dedup import (
    jaccard,
    minhash_signature,
    word_ngrams,
)

FAST = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@FAST
@given(st.lists(st.one_of(st.booleans(), st.none()), min_size=1, max_size=50))
def test_bool_to_int_total(spark, vals):
    """F7: bool→int is total — every bool maps to exactly 0/1, null stays null."""
    df = spark.createDataFrame([(v,) for v in vals], "b boolean")
    got = [r.i for r in df.select(bool_to_int("b").alias("i")).collect()]
    assert got == [None if v is None else int(v) for v in vals]


@FAST
@given(
    st.lists(
        st.one_of(
            st.integers(-(2**31), 2**31 - 1).map(str),
            st.text(max_size=8),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_lossy_int_skips_unparseable(spark, vals):
    """F8: try_cast sum == Python sum over parseable ints, unparseables skipped
    (the reference's swallow-ValueError loop, main.py:603-606)."""

    def pyint(s):
        try:
            v = int(s)
        except ValueError:
            return None
        return v if -(2**31) <= v < 2**31 else None

    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = df.agg(F.sum(lossy_int("s")).alias("t")).collect()[0].t
    want_vals = [pyint(v) for v in vals if pyint(v) is not None]
    assert got == (sum(want_vals) if want_vals else None)


@FAST
@given(
    st.lists(
        st.tuples(
            st.integers(0, 5),  # key
            st.sampled_from(["A", "B", "C"]),  # status
            st.integers(0, 1000),  # qty
        ),
        min_size=1,
        max_size=60,
    )
)
def test_pivot_parts_sum_to_total(spark, rows):
    """A3/A4 identity: pivoted per-status sums add back up to the plain
    per-key total (derived-totals columns are consistent)."""
    df = spark.createDataFrame(rows, "k int, status string, qty int")
    piv = (
        df.groupBy("k")
        .pivot("status", ["A", "B", "C"])
        .sum("qty")
        .na.fill(0, ["A", "B", "C"])
        .withColumn("total", F.col("A") + F.col("B") + F.col("C"))
    )
    plain = df.groupBy("k").agg(F.sum("qty").alias("want"))
    bad = (
        piv.join(plain, "k")
        .where(F.col("total") != F.col("want"))
        .count()
    )
    assert bad == 0


@FAST
@given(
    st.lists(
        st.integers(-(10**6), 10**6).map(lambda c: c / 100.0),
        min_size=1,
        max_size=100,
    ),
    st.sampled_from([1, 3, 7]),
)
def test_dsum2_partition_independent(spark, vals, nparts):
    """Numeric determinism: decimal-routed money sums are bit-identical under
    any repartitioning (double sums are not — that's why dsum2 exists)."""
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    a = df.repartition(1).agg(dsum2("v").alias("s")).collect()[0].s
    b = df.repartition(nparts).agg(dsum2("v").alias("s")).collect()[0].s
    assert a == b
    assert abs(a - round(sum(round(v * 100) for v in vals) / 100.0, 2)) < 1e-9


WORDS = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]),
    min_size=3,
    max_size=30,
).map(" ".join)


@FAST
@given(WORDS, WORDS)
def test_jaccard_bounds_symmetry_identity(spark, t1, t2):
    """Jaccard over shingle arrays: j(a,a)=1, 0<=j<=1, j(a,b)=j(b,a)."""
    df = spark.createDataFrame([(t1, t2)], "a string, b string")
    ga, gb = word_ngrams("a"), word_ngrams("b")
    row = df.select(
        jaccard(ga, ga).alias("jaa"),
        jaccard(ga, gb).alias("jab"),
        jaccard(gb, ga).alias("jba"),
    ).collect()[0]
    assert row.jaa == 1.0
    assert 0.0 <= row.jab <= 1.0
    assert row.jab == row.jba


@FAST
@given(WORDS)
def test_minhash_identical_docs_identical_signatures(spark, text):
    """MinHash: equal texts get equal signatures regardless of row identity
    or partitioning (signatures are pure functions of the shingle set)."""
    df = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id bigint, body string"
    ).repartition(2)
    sig = minhash_signature(df, "doc_id", "body").collect()
    assert len(sig) == 2
    a, b = (tuple(r)[1:] for r in sorted(sig, key=lambda r: r.doc_id))
    assert a == b


@FAST
@given(
    st.lists(
        st.tuples(
            st.integers(1, 10**6),  # unique-ish id to salt on
            st.sampled_from(["hot", "hot", "hot", "cold"]),  # skewed key
            st.integers(-(10**4), 10**4).map(lambda c: c / 100.0),
        ),
        min_size=1,
        max_size=80,
        unique_by=lambda t: t[0],
    ),
    st.sampled_from([2, 16]),
)
def test_salted_agg_equals_plain_agg(spark, rows, n_salt):
    """Skew salting is invisible in the result: two-stage (key, salt) then
    (key) aggregation is value-identical to one-stage groupBy, for any salt
    fan-out — including on a deliberately skewed key distribution."""
    from data_etl_scripts_showcase__spark.functions import dec2
    from data_etl_scripts_showcase__spark.operators.skew import salted_agg

    df = spark.createDataFrame(rows, "id bigint, k string, v double")
    got = {
        r.k: (r.s, r.n)
        for r in salted_agg(
            df, ["k"], "id", {"s": dec2("v")}, "n", n_salt
        ).collect()
    }
    want = {
        r.k: (r.s, r.n)
        for r in df.groupBy("k")
        .agg(F.sum(dec2("v")).alias("s"), F.count("*").alias("n"))
        .collect()
    }
    assert got == want


@FAST
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),  # user_id
            st.integers(0, 3_600_000),  # offset seconds within a window
        ),
        min_size=1,
        max_size=60,
    )
)
def test_sessionize_partitions_events(spark, rows):
    """w7 invariants: sessions PARTITION each user's events (counts sum to
    the user's event total) and no session spans a >30-min internal gap
    (duration bounded by (n-1) * gap)."""
    from data_etl_scripts_showcase__spark.queries import load_all  # noqa: F401
    import pyspark.sql.functions as SF

    df = spark.createDataFrame(
        [(u, s) for u, s in rows], "user_id int, off bigint"
    ).select(
        "user_id",
        SF.timestamp_seconds(SF.col("off") + 1_700_000_000).alias("ts"),
        SF.monotonically_increasing_id().alias("event_id"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(SF.col("ts").asc(), SF.col("event_id").asc())
    us = SF.unix_micros(SF.col("ts"))
    prev = SF.lag(us).over(w)
    sess = (
        df.withColumn(
            "new_s",
            SF.when(prev.isNull() | (us - prev > 1_800_000_000), 1).otherwise(0),
        )
        .withColumn(
            "sid", SF.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        )
        .groupBy("user_id", "sid")
        .agg(
            SF.count("*").alias("n"),
            (SF.max(us) - SF.min(us)).alias("dur_us"),
        )
        .collect()
    )
    per_user: dict[int, int] = {}
    for r in sess:
        per_user[r.user_id] = per_user.get(r.user_id, 0) + r.n
        assert r.dur_us <= (r.n - 1) * 1_800_000_000, "gap leaked into a session"
    want: dict[int, int] = {}
    for u, _ in rows:
        want[u] = want.get(u, 0) + 1
    assert per_user == want, "sessions must partition the events"


@FAST
@given(st.lists(st.binary(min_size=0, max_size=64), min_size=1, max_size=30))
def test_audio_chunk_grid_invariants(spark, payloads):
    """mm3 invariants: every chunk is exactly CHUNK_LEN long, consecutive
    chunks step by CHUNK_HOP, and the chunk count matches the closed form
    (n_samples - LEN) // HOP + 1 for each asset."""
    from data_etl_scripts_showcase__spark.operators.multimodal import (
        CHUNK_HOP,
        CHUNK_LEN,
        _pseudo_n_samples,
        chunk_audio,
    )

    df = spark.createDataFrame(
        [(i, "audio", p) for i, p in enumerate(payloads)],
        "asset_id long, media_type string, content binary",
    )
    out = chunk_audio(df).collect()
    by_asset: dict[int, list] = {}
    for r in out:
        by_asset.setdefault(r.asset_id, []).append(r)
    for i, p in enumerate(payloads):
        n = _pseudo_n_samples(p)
        want = (n - CHUNK_LEN) // CHUNK_HOP + 1
        got = sorted(by_asset.get(i, []), key=lambda r: r.chunk_idx)
        assert len(got) == want
        for k, r in enumerate(got):
            assert r.chunk_idx == k
            assert r.start_sample == k * CHUNK_HOP
            assert r.end_sample - r.start_sample == CHUNK_LEN


@FAST
@given(st.lists(st.lists(st.sampled_from("ab"), min_size=0, max_size=6), min_size=1, max_size=20))
def test_bigram_total_identity(spark, docs):
    """t5 invariant: total bigram occurrences == Σ max(len(doc)-1, 0)."""
    import pyspark.sql.functions as SF

    texts = [" ".join(d) for d in docs]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    t = SF.split("text", " ")
    d2 = df.select(t.alias("t")).where(SF.size("t") >= 2)
    bigrams = d2.select(
        SF.explode(
            SF.zip_with(
                SF.slice("t", 1, SF.size("t") - 1),
                SF.slice(SF.col("t"), 2, SF.size("t") - 1),
                lambda a, b: SF.concat(a, SF.lit(" "), b),
            )
        ).alias("bigram")
    )
    total = bigrams.count()
    # split(" ") on an empty string yields [""], a 1-token doc → 0 bigrams,
    # matching max(len-1, 0) with len >= 1
    want = sum(max(len(SFT.split(" ")) - 1, 0) for SFT in texts)
    assert total == want


@FAST
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 1000)),  # (key, value)
        min_size=1,
        max_size=60,
    ),
    st.integers(2, 8),
)
def test_salted_join_equals_plain_join(spark, rows, n_salt):
    """x6 invariant: the salted fact-to-dim join returns exactly the plain
    join's rows for any data and salt width."""
    from data_etl_scripts_showcase__spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(k, i, v) for i, (k, v) in enumerate(rows)], "k int, rid int, v int"
    )
    dim = spark.createDataFrame([(k, f"d{k}") for k in range(6)], "k int, name string")
    plain = {(r.rid, r.name) for r in fact.join(dim, "k").collect()}
    salted = {
        (r.rid, r.name)
        for r in salted_join(fact, dim, key="k", salt_on="rid", n_salt=n_salt).collect()
    }
    assert salted == plain


@FAST
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=25,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """d9 invariant: the DataFrame label-propagation loop produces exactly
    the components a driver-side union-find computes."""
    from data_etl_scripts_showcase__spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, "src int, dst int")
    got = {
        r.id: r.component for r in connected_components(df, "src", "dst").collect()
    }

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {v: find(v) for v in parent}
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 500), st.sampled_from(["a", "b"]), st.integers(1, 80)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 7),
)
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_token_budget_sample_partition_independent(spark, rows, nparts):
    """x8's selection is a pure function of (source, doc hash, n_tokens) —
    the chosen doc set must not change with the input partitioning."""
    from pyspark.sql import Window as W

    budget = 200
    df = spark.createDataFrame(
        [(i, s, "w " * n) for i, s, n in rows], "doc_id long, source string, text string"
    )

    def pick(d):
        t = d.select(
            "source",
            "doc_id",
            F.size(F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")).alias("n_tokens"),
            F.md5(F.col("doc_id").cast("string")).alias("rand_key"),
        )
        w = (
            W.partitionBy("source")
            .orderBy("rand_key", "doc_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        c = t.withColumn("cum", F.sum("n_tokens").over(w))
        return sorted((r.source, r.doc_id, r.cum) for r in c.where(F.col("cum") <= budget).collect())

    assert pick(df.repartition(1)) == pick(df.repartition(nparts))


@FAST
@given(
    st.lists(st.integers(0, 20), min_size=1, max_size=80),
    st.integers(2, 4),
)
def test_cms_never_undercounts_and_merges(spark, keys, n_shards):
    """Count-min: est ≥ exact for every key on arbitrary multisets, and
    sketching hash-split shards then merging equals sketching everything."""
    from data_etl_scripts_showcase__spark.operators.sketches import (
        cms_build,
        cms_merge,
        cms_probe,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    whole = cms_build(df, "k")
    shards = [
        cms_build(df.where(F.col("k") % n_shards == i), "k")
        for i in range(n_shards)
    ]
    merged = cms_merge(*shards)
    cells = lambda d: {(r.row, r.bucket): r.n for r in d.collect()}
    assert cells(merged) == cells(whole)

    exact = df.groupBy("k").count()
    est = cms_probe(whole, exact.select("k"), "k")
    joined = est.join(exact, "k").collect()
    assert len(joined) == len(set(keys))
    assert all(r.est_n >= r["count"] for r in joined)


@FAST
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)),
        min_size=1,
        max_size=40,
    ),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)),
        min_size=1,
        max_size=40,
    ),
)
def test_asof_forward_matches_bruteforce(spark, lrows, rrows):
    """Forward as-of == per-row brute force: min right ts ≥ left ts per key
    (right side deduped to one row per (key, ts) by max value)."""
    from data_etl_scripts_showcase__spark.operators.asof import asof_join_forward

    base = 1_700_000_000
    left = spark.createDataFrame(
        [(i, k, base + t) for i, (k, t) in enumerate(lrows)],
        "event_id bigint, k bigint, sec bigint",
    ).select("event_id", "k", F.timestamp_seconds("sec").alias("ts"))
    rdedup = {}
    for k, t in rrows:
        rdedup[(k, t)] = max(rdedup.get((k, t), -1), t + k)
    right = spark.createDataFrame(
        [(k, base + t, float(v)) for (k, t), v in rdedup.items()],
        "k bigint, sec bigint, value double",
    ).select("k", F.timestamp_seconds("sec").alias("ts"), "value")

    got = {
        r.event_id: r.value
        for r in asof_join_forward(left, right, on="ts", by=["k"]).collect()
    }
    for i, (k, t) in enumerate(lrows):
        following = [tt for (kk, tt) in rdedup if kk == k and tt >= t]
        want = rdedup[(k, min(following))] if following else None
        assert got[i] == (None if want is None else float(want)), (i, k, t)


@FAST
@given(st.lists(st.integers(0, 30), min_size=2, max_size=60), st.integers(1, 5))
def test_capped_pairs_subset_of_uncapped(spark, ids, cap):
    """The hot-bucket cap only ever REMOVES candidate pairs, and every pair
    it keeps comes from a bucket within the cap."""
    from data_etl_scripts_showcase__spark.operators import dedup as DD2

    docs_df = spark.createDataFrame(
        [(i, f"token{v % 5} alpha beta gamma delta epsilon zeta")
         for i, v in enumerate(ids)],
        "doc_id bigint, text string",
    )
    sig = DD2.minhash_signature(docs_df, "doc_id", "text")
    buckets = DD2.lsh_buckets(sig, "doc_id")
    full = {(r.id_a, r.id_b) for r in DD2.candidate_pairs(buckets, "doc_id").collect()}
    capped = {
        (r.id_a, r.id_b)
        for r in DD2.candidate_pairs(buckets, "doc_id", max_bucket_size=cap).collect()
    }
    assert capped <= full


def test_pq_adc_invariants(spark):
    """PQ/ADC invariants on the real corpus: every ADC distance is ≥ 0 and
    ranks are the ascending-distance order (deterministic tie-break)."""
    from data_etl_scripts_showcase__spark.queries import load_all

    out = load_all()["v11_pq_adc_topk"].fn(spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 5
    assert all(r.adc_dist_u >= 0 for r in out)
    assert [r.rank for r in sorted(out, key=lambda r: (r.adc_dist_u, r.neighbor_id))] == [1, 2, 3, 4, 5]


def test_results_independent_of_shuffle_partitioning(spark):
    """Registry-wide determinism contract, sampled: representative queries
    from every major family return IDENTICAL rows under different
    spark.sql.shuffle.partitions settings.  Catches nondeterministic
    tie-breaks, partial-aggregation float drift, and partitioning-
    sensitive sampling — the bugs that only appear when a cluster resizes."""
    from data_etl_scripts_showcase__spark.queries import load_all

    SAMPLE = [
        "q1_pricing_summary",       # aggregation
        "w1_topk_per_group",        # window tie-breaks
        "d1_exact_dedup",           # hash dedup
        "d3_lsh_candidate_pairs",   # LSH banding
        "x7_stratified_sample",     # deterministic sampling
        "x13_train_val_test_split", # split assignment
        "a24_countmin_frequency",   # sketch build/probe
        "v10_quantized_topk",       # quantized ranking
        "x21_sequence_packing",     # running-sum packing
        "j10_scd2_point_in_time",   # as-of fill
        "a25_hll_distinct_sketch",  # HLL registers + estimate
        "x27_bloom_prejoin",        # bloom bits + probe accounting
        "d17_duplicate_spans",      # window-hash dedup
        "x26_zorder_layout",        # Morton layout spans
        "t18_perplexity_buckets",   # global ntile tiers
        "j12_band_join",            # bucketed theta join
        "x31_table_fingerprint",    # commutative sum-of-hashes
        "x35_geo_radius_join",      # 2-D grid candidate join
        # round-2 families:
        "x39_global_row_ids",       # bucketed ordinal assignment
        "pr4_cc_alternating",       # min-label CC loop on an edge leaf
        "x40_join_size_estimate",   # CMS inner product
        "x41_weighted_sample",      # hash-derived weighted top-k
        "mm10_phash_neardup",       # hamming band candidates
        "a28_histogram_quantile_audit",  # mergeable histogram quantiles
        "x44_distributed_deciles",  # rank arithmetic ntile
        "pr6_khop_neighbor_sample", # hash-ranked neighbor caps
    ]
    registry = load_all()
    sf = "/root/testdata/sf0.001"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for n_part in ("7", "29"):
            spark.conf.set("spark.sql.shuffle.partitions", n_part)
            for name in SAMPLE:
                rows = sorted(
                    tuple(r) for r in registry[name].fn(spark, sf).collect()
                )
                results.setdefault(name, []).append(rows)
        mismatched = [n for n, (a, b) in results.items() if a != b]
        assert not mismatched, mismatched
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@FAST
@given(
    st.lists(st.integers(0, 10**6), min_size=1, max_size=40, unique=True),
    st.lists(st.integers(0, 10**6), min_size=1, max_size=40, unique=True),
)
def test_bloom_never_false_negative(spark, members, probes):
    """Bloom guarantee on arbitrary key sets: every true member passes,
    whatever the overlap between build and probe sets."""
    from data_etl_scripts_showcase__spark.operators.bloom import (
        bloom_bits,
        bloom_probe,
    )

    build = spark.createDataFrame([(k,) for k in members], "k bigint")
    probe_keys = spark.createDataFrame(
        [(k,) for k in set(members) | set(probes)], "k bigint"
    )
    res = bloom_probe(probe_keys, bloom_bits(build, "k"), "k").collect()
    verdict = {r.k: r.bloom_pass for r in res}
    assert all(verdict[k] for k in members)


@FAST
@given(
    st.lists(st.integers(0, 10**9), min_size=1, max_size=60),
    st.integers(1, 3),
)
def test_hll_registers_partition_independent(spark, keys, nparts):
    """Sketch determinism: registers are identical under any partitioning
    (max is order-independent) and duplicates never move them."""
    from data_etl_scripts_showcase__spark.operators.sketches import hll_registers

    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    a = {
        (r.idx, r.reg)
        for r in hll_registers(df.repartition(1), "k").collect()
    }
    b = {
        (r.idx, r.reg)
        for r in hll_registers(df.repartition(nparts), "k").collect()
    }
    c = {
        (r.idx, r.reg)
        for r in hll_registers(df.unionAll(df), "k").collect()
    }
    assert a == b == c


@FAST
@given(st.lists(st.tuples(st.integers(0, 255), st.integers(0, 255)), min_size=1, max_size=50))
def test_zvalue_roundtrip_property(spark, pts):
    """Morton interleave inverts exactly for any (x, y) in [0,256)²."""
    from data_etl_scripts_showcase__spark.operators.zorder import zvalue

    df = spark.createDataFrame(pts, "x bigint, y bigint")
    for r in df.select("x", "y", zvalue(F.col("x"), F.col("y")).alias("zv")).collect():
        xx = sum(((r.zv >> (2 * i)) & 1) << i for i in range(8))
        yy = sum(((r.zv >> (2 * i + 1)) & 1) << i for i in range(8))
        assert (xx, yy) == (r.x, r.y)


@FAST
@given(
    st.lists(st.integers(0, 2000), min_size=1, max_size=30),
    st.lists(st.integers(0, 2000), min_size=1, max_size=30),
    st.sampled_from([7, 50, 137]),
)
def test_band_join_equals_brute_force(spark, lvals, rvals, eps):
    """The bucketed band join returns exactly the |a-b|<=eps pair set of
    the brute-force theta join, for any data and band width."""
    from data_etl_scripts_showcase__spark.operators.rangejoin import band_join

    l = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(lvals)], "lid bigint, lv double"
    )
    r = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(rvals)], "rid bigint, rv double"
    )
    got = {
        (x.lid, x.rid)
        for x in band_join(l, r, "lv", "rv", F.lit(float(eps))).collect()
    }
    want = {
        (i, j)
        for i, a in enumerate(lvals)
        for j, b in enumerate(rvals)
        if abs(a - b) <= eps
    }
    assert got == want


@FAST
@given(
    st.lists(st.integers(-5000, 5000), min_size=1, max_size=25),  # points
    st.lists(  # intervals as (lo, span)
        st.tuples(st.integers(-5000, 5000), st.integers(0, 400)),
        min_size=1,
        max_size=12,
    ),
    st.sampled_from([3, 60, 900]),
)
def test_interval_join_numeric_equals_brute_force(spark, pts, ivs, bucket_s):
    """The banded interval join's NUMERIC contract (bigint epoch seconds,
    including negatives) returns exactly the brute-force containment pair
    set for any data and bucket width — sweep-guard for the r4 regression
    class where the bucketing path stopped accepting numeric timestamps."""
    from data_etl_scripts_showcase__spark.operators.rangejoin import (
        interval_join,
    )

    p = spark.createDataFrame(
        [(0, i, t) for i, t in enumerate(pts)],
        "k bigint, pid bigint, ts bigint",
    )
    iv = spark.createDataFrame(
        [(0, i, lo, lo + span) for i, (lo, span) in enumerate(ivs)],
        "k bigint, iid bigint, lo bigint, hi bigint",
    )
    got = {
        (x.pid, x.iid)
        for x in interval_join(
            p, iv, "ts", "lo", "hi", by=["k"], bucket_seconds=bucket_s
        ).collect()
    }
    want = {
        (i, j)
        for i, t in enumerate(pts)
        for j, (lo, span) in enumerate(ivs)
        if lo <= t <= lo + span
    }
    assert got == want


_SLOW_GRAPH = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_SLOW_GRAPH
@given(
    st.lists(
        st.tuples(st.integers(0, 1000), st.integers(0, 5)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    )
)
def test_global_row_ids_dense_and_order_preserving(spark, rows):
    """global_row_ids assigns exactly 0..N-1 in (bucket, key) order for
    any bucket skew, including all-one-bucket and one-row buckets."""
    from data_etl_scripts_showcase__spark.queries.scale_ops2 import (
        global_row_ids,
    )

    df = spark.createDataFrame(rows, "k bigint, b bigint")
    got = {
        r.k: r.row_id
        for r in global_row_ids(df, F.col("b"), ["b", "k"]).collect()
    }
    expected = {
        k: i for i, (k, _) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
    }
    assert got == expected


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-1000, max_value=1000),  # order key
            st.integers(min_value=0, max_value=50),        # value
        ),
        min_size=1,
        max_size=60,
    ),
    nparts=st.integers(min_value=1, max_value=5),
)
def test_bucketed_running_sums_equal_global_window(spark, rows, nparts):
    """operators/prefix.bucketed_running_sums must equal the single-
    partition global window cumsum it replaces — for any data, any bucket
    granularity implied by the value range, and any input partitioning
    (determinism precondition: unique order keys)."""
    from pyspark.sql import Window

    from data_etl_scripts_showcase__spark.operators.prefix import (
        bucketed_running_sums,
    )

    # unique order keys (ties make both forms order-ambiguous)
    seen, uniq = set(), []
    for k, v in rows:
        if k not in seen:
            seen.add(k)
            uniq.append((k, v))
    df = spark.createDataFrame(uniq, "k int, v long").repartition(nparts)

    got = {
        r.k: r.cum
        for r in bucketed_running_sums(
            df, (F.col("k") / 7).cast("int"), ["k"], {"v": "cum"}
        ).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.k: r.cum
        for r in df.select("k", F.sum("v").over(w).alias("cum")).collect()
    }
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    ops=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),            # key
            st.sampled_from(["I", "U", "D"]),                 # op
            st.integers(min_value=0, max_value=10**6),        # payload cents
        ),
        min_size=1,
        max_size=40,
    )
)
def test_cdc_fold_equals_sequential_apply(spark, ops):
    """x56's declarative fold (arg-max by sequence, terminal-delete
    filter) must equal replaying the changelog one op at a time into a
    dict — for any op mix, any key interleaving."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    log = [(k, seq, op, p) for seq, (k, op, p) in enumerate(ops)]
    df = spark.createDataFrame(log, "key int, seq long, op string, payload long")

    w = Window.partitionBy("key").orderBy(F.col("seq").desc())
    got = {
        r.key: (r.payload, r.seq)
        for r in (
            df.withColumn("rn", F.row_number().over(w))
            .where((F.col("rn") == 1) & (F.col("op") != "D"))
            .collect()
        )
    }

    state: dict[int, tuple[int, int]] = {}
    for k, seq, op, p in log:
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = (p, seq)
    # declarative fold keeps a key iff its LAST op isn't D; sequential
    # apply agrees because any non-D op after a delete re-inserts.
    assert got == state


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    clicks=st.lists(
        st.integers(min_value=0, max_value=10**6), min_size=1, max_size=12
    ),
    purchases=st.lists(
        st.integers(min_value=0, max_value=10**6), min_size=0, max_size=12
    ),
)
def test_nearest_asof_backward_forward_compose(spark, clicks, purchases):
    """j14's compose-from-two-linear-passes rule (backward candidate,
    forward candidate, pick smaller |delta|, tie -> backward) must equal
    the naive nearest-neighbor scan for any time layout, including
    no-purchase users and exact ties."""
    from pyspark.sql import functions as F

    from data_etl_scripts_showcase__spark.operators.asof import (
        asof_join,
        asof_join_forward,
    )

    cdf = spark.createDataFrame(
        [(i, 1, t) for i, t in enumerate(sorted(set(clicks)))],
        "event_id long, user_id long, ts long",
    )
    pts = sorted(set(purchases))
    pdf = spark.createDataFrame(
        [(1, t, float(t)) for t in pts] or [(2, 0, 0.0)],
        "user_id long, ts long, value double",
    ).withColumn("p_ts", F.col("ts"))

    back = asof_join(cdf, pdf, on="ts", by=["user_id"]).select(
        "event_id", F.col("p_ts").alias("b_ts")
    )
    fwd = asof_join_forward(cdf, pdf, on="ts", by=["user_id"]).select(
        "event_id", F.col("p_ts").alias("f_ts")
    )
    j = cdf.join(back, "event_id", "left").join(fwd, "event_id", "left")
    b_d = F.abs(F.col("ts") - F.col("b_ts"))
    f_d = F.abs(F.col("f_ts") - F.col("ts"))
    pick_b = F.col("b_ts").isNotNull() & (F.col("f_ts").isNull() | (b_d <= f_d))
    got = {
        r.event_id: r.n_ts
        for r in j.select(
            "event_id",
            F.when(pick_b, F.col("b_ts")).otherwise(F.col("f_ts")).alias("n_ts"),
        ).collect()
    }

    def naive(t):
        if not pts:
            return None
        return min(pts, key=lambda p: (abs(t - p), p))  # tie -> earlier

    want = {i: naive(t) for i, t in enumerate(sorted(set(clicks)))}
    assert got == want


@FAST
@given(
    st.lists(  # clicks: (user, offset-seconds within a day)
        st.tuples(st.integers(0, 3), st.integers(0, 86_400)),
        min_size=0,
        max_size=40,
    ),
    st.lists(  # purchases: (user, offset-seconds, value in cents)
        # negative values (refunds) included: conservation must hold for
        # any sign, which requires the floor/pmod split — a
        # sign-of-dividend % breaks it (ADVICE r4)
        st.tuples(
            st.integers(0, 3), st.integers(0, 86_400),
            st.integers(-(10**7), 10**7),
        ),
        min_size=1,
        max_size=20,
    ),
)
def test_attribution_conserves_purchase_value(spark, crows, prows):
    """w29's money-conservation invariant (VERDICT r4 item 5): for every
    purchase with >= 1 touch, the credits distributed across its touches
    sum EXACTLY to the purchase value in milli-cents (including NEGATIVE
    values — refunds); every touch gets at least the floor share; and the
    remainder lands on the earliest touch (ties by event_id) — bit-exact
    over generated click/purchase streams.  The Python ground truth's
    // and % are floor/pmod semantics, exactly the operator's contract."""
    from data_etl_scripts_showcase__spark.operators.attribution import (
        linear_attribution,
    )

    base = 1_700_000_000
    clicks = spark.createDataFrame(
        [(i, u, base + t) for i, (u, t) in enumerate(crows)],
        "event_id bigint, user_id bigint, sec bigint",
    ).select("event_id", "user_id", F.timestamp_seconds("sec").alias("ts"))
    purchases = spark.createDataFrame(
        [(10_000 + i, u, base + t, v) for i, (u, t, v) in enumerate(prows)],
        "p_id bigint, p_uid bigint, p_sec bigint, value_cents bigint",
    ).select(
        "p_id", "p_uid", F.timestamp_seconds("p_sec").alias("p_ts"), "value_cents"
    )
    share = linear_attribution(clicks, purchases).collect()

    # brute-force ground truth of the touch set
    touches = {}  # p_id -> sorted [(ts, event_id)]
    pmap = {10_000 + i: (u, base + t, v) for i, (u, t, v) in enumerate(prows)}
    for i, (u, t) in enumerate(crows):
        cts = base + t
        for p_id, (pu, pts, v) in pmap.items():
            if u == pu and cts <= pts and cts >= pts - 86_400:
                touches.setdefault(p_id, []).append((cts, i))
    got = {}
    for r in share:
        got.setdefault(r.p_id, []).append(r)
    assert set(got) == set(touches)
    for p_id, rows_ in got.items():
        _, _, v = pmap[p_id]
        n = len(touches[p_id])
        assert len(rows_) == n
        # conservation: credits sum to the exact purchase milli-cents
        assert sum(r.credit_mc for r in rows_) == v * 1000, (p_id, rows_)
        base_share = (v * 1000) // n
        rem = (v * 1000) % n
        earliest = min(touches[p_id])[1]
        for r in rows_:
            want = base_share + (rem if r.event_id == earliest else 0)
            assert r.credit_mc == want, (p_id, r.event_id, r.credit_mc, want)


@settings(max_examples=200, deadline=None)
@given(data=st.binary(min_size=0, max_size=600))
def test_cdc_vectorized_bounds_equal_sequential(data):
    """The numpy Horner scan (the distributed path's kernel) must produce
    exactly the sequential pure-Python chunking for ANY byte string —
    including n < window, n == window, and boundary-dense inputs."""
    import numpy as np

    from data_etl_scripts_showcase__spark.operators import chunking as CH

    ref = CH.cdc_chunks_py(data)
    bounds = CH._bounds_np(data, np)
    ends = np.append(bounds[1:], len(data) + 1)
    got = list(zip(bounds.tolist(), (ends - bounds).tolist()))
    assert got == ref
    # chunks tile the input exactly
    assert got[0][0] == 1
    assert sum(l for _, l in got) == max(len(data), 0) or len(data) == 0


def test_cdc_operator_end_to_end_matches_reference(spark):
    """cdc_chunks (mapInPandas) row-for-row equals the pure-Python
    reference on a mixed corpus: short docs (< window), exact-window
    docs, long repetitive docs (boundary-dense), and multi-chunk text —
    with keep-column values, indices, lengths and md5s intact."""
    import hashlib

    from data_etl_scripts_showcase__spark.operators import chunking as CH

    texts = [
        "",  # callers filter length>=8, but the operator must not crash
        "1234567",  # n < window
        "12345678",  # n == window
        "the quick brown fox jumps over the lazy dog " * 30,
        "aaaaaaaaaaaaaaaa" * 64,
        "".join(f"w{(i * 37) % 97} " for i in range(300)),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = CH.cdc_chunks(df, ["doc_id"]).collect()
    got = {}
    for r in out:
        got.setdefault(r.doc_id, []).append(
            (r.chunk_idx, r.start_pos, r.chunk_len, r.chunk_md5)
        )
    for i, t in enumerate(texts):
        data = t.encode()
        want = [
            (j + 1, s, l, hashlib.md5(data[s - 1 : s - 1 + l]).hexdigest())
            for j, (s, l) in enumerate(CH.cdc_chunks_py(data))
        ]
        assert sorted(got.get(i, [])) == want, i


@FAST
@given(
    st.lists(
        st.one_of(
            st.none(),  # null vector -> quarantined
            st.lists(
                st.floats(
                    min_value=-10, max_value=10,
                    allow_nan=False, allow_infinity=False,
                ),
                min_size=0,
                max_size=6,
            ),  # any dim; only dim == 3 is well-formed
        ),
        min_size=1,
        max_size=24,
    )
)
def test_assign_cells_quarantine_invariants(spark, vecs):
    """VERDICT r8 #2 property: over ARBITRARY mixed-dim/null input, the
    IVF assignment (a) emits exactly k ranked rows per well-formed vector
    with ranks a permutation of 1..k, (b) emits exactly ONE (null cell,
    null rank) row per malformed vector — never a ranked row — and (c)
    total output rows = k·|valid| + |malformed| (nothing dropped,
    nothing invented)."""
    from data_etl_scripts_showcase__spark.operators.similarity import (
        assign_cells,
    )

    dim, k = 3, 2
    rows = [(i, v) for i, v in enumerate(vecs)]
    e = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "centroid_id bigint, cent_vec array<double>",
    )
    out = assign_cells(e, cents, k).collect()
    valid = {i for i, v in enumerate(vecs) if v is not None and len(v) == dim}
    malformed = set(range(len(vecs))) - valid
    assert len(out) == k * len(valid) + len(malformed)
    by_id: dict = {}
    for r in out:
        by_id.setdefault(r.vec_id, []).append((r.cell_rank, r.cell))
    for i in valid:
        got = sorted(by_id[i])
        assert [rk for rk, _ in got] == list(range(1, k + 1))
        assert all(c in (0, 1) for _, c in got)
    for i in malformed:
        assert by_id[i] == [(None, None)], f"malformed {i} was ranked"


# Adversarial gram shapes for the d18 digest-arithmetic property: a tiny
# alphabet forces heavy overlap (subsets, supersets, identical docs), and
# min_size=0 covers docs too short to shingle (empty gram sets — the
# greatest(lmin, 1) guard).
ADV_TOKS = st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=24)


@FAST
@given(ADV_TOKS, ADV_TOKS)
def test_d18_digest_sizes_exact_vs_set_arithmetic(spark, ta, tb):
    """d18's containment arithmetic (VERDICT r9 #7): hashing each gram to
    an 8-byte xxhash64 digest and computing |A∩B| / |A∪B| from the digest
    arrays must equal EXACT set arithmetic over the raw grams — absent a
    64-bit collision, which this alphabet cannot produce (the birthday
    bound for the real tiers is documented at queries/dedup.py:d18).
    Union is |A|+|B|−|A∩B| (no array_distinct(concat) materialization),
    so the identity is what keeps the shuffle payload fixed-width."""
    from data_etl_scripts_showcase__spark.operators.dedup import (
        ngrams_from_tokens,
        tokens,
    )

    texts = [(" ".join(ta), " ".join(tb))]
    df = spark.createDataFrame(texts, "a string, b string")
    gexpr = df.select(
        ngrams_from_tokens(tokens("a")).alias("grams_a"),
        ngrams_from_tokens(tokens("b")).alias("grams_b"),
    )
    digs_a = F.transform("grams_a", lambda g: F.xxhash64(g))
    digs_b = F.transform("grams_b", lambda g: F.xxhash64(g))
    d = gexpr.select(digs_a.alias("grams_a"), digs_b.alias("grams_b"))
    inter_n = F.size(F.array_intersect("grams_a", "grams_b"))
    row = d.select(
        inter_n.alias("inter"),
        (F.size("grams_a") + F.size("grams_b") - inter_n).alias("union"),
        F.size("grams_a").alias("na"),
        F.size("grams_b").alias("nb"),
    ).collect()[0]

    def pygrams(toks):
        return {
            " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 0))
        }

    A, B = pygrams(ta), pygrams(tb)
    assert row.na == len(A) and row.nb == len(B)
    assert row.inter == len(A & B)
    assert row["union"] == len(A | B)
