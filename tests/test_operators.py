"""Dataset-level operators: stats, uniqueness (plain + salted),
referential, drift — against TPC-H testdata and synth clips."""

import pytest
from pyspark.sql import functions as F

from marshmallow_spark.operators import (
    column_profile,
    column_stats,
    duplicate_keys,
    duplicate_key_rows,
    histogram_counts,
    ks_statistic,
    psi_between,
    quantile_sketch,
    referential_violations,
    uniqueness_violations,
)
from marshmallow_spark.operators.drift import ks_between, psi
from marshmallow_spark.sources.synth import codecs_dim, synth_clips


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


def test_column_stats_one_pass(lineitem):
    row = column_stats(lineitem, ["l_quantity", "l_orderkey"]).first()
    assert row.row_count > 0
    assert row.l_quantity_min >= 1
    assert row.l_quantity_max <= 50
    assert row.l_quantity_nulls == 0
    assert row.l_orderkey_approx_distinct > 0


def test_column_profile_tall(lineitem):
    rows = {r.column: r for r in column_profile(lineitem, ["l_quantity", "l_returnflag"]).collect()}
    assert rows["l_quantity"].min_value >= 1.0
    assert rows["l_returnflag"].min_value is None
    assert rows["l_quantity"].row_count == rows["l_returnflag"].row_count


def test_duplicate_keys_lineitem(lineitem):
    # l_orderkey repeats across lines: plain and salted must agree
    plain = {(r.l_orderkey, r.dup_count) for r in duplicate_keys(lineitem, "l_orderkey").collect()}
    salted = {(r.l_orderkey, r.dup_count) for r in duplicate_keys(lineitem, "l_orderkey", salted=True).collect()}
    assert plain == salted
    assert len(plain) > 0


def test_duplicate_key_rows(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "k string, v int"
    )
    rows = duplicate_key_rows(df, "k").collect()
    assert {r.k for r in rows} == {"a"}
    assert len(rows) == 2


def test_uniqueness_on_synth_clips(spark):
    df = synth_clips(spark, 2000, num_partitions=4)
    v = uniqueness_violations(df, "clip_id")
    rows = v.collect()
    assert len(rows) > 0
    hot = [r for r in rows if r.row_key == "clip-000000000007"]
    assert hot and "times" in hot[0].message


def test_referential_orphans(spark):
    df = synth_clips(spark, 3000, num_partitions=4)
    orphans = referential_violations(df, "codec", codecs_dim(spark), "codec")
    vals = {r.codec for r in orphans.collect()}
    assert vals == {"opus"}


def test_referential_clean(lineitem, orders):
    orphans = referential_violations(lineitem, "l_orderkey", orders, "o_orderkey", broadcast=False)
    assert orphans.count() == 0


def test_quantile_sketch_and_ks(lineitem):
    a = lineitem.where(F.col("l_orderkey") % 2 == 0)
    b = lineitem.where(F.col("l_orderkey") % 2 == 1)
    ks_same = ks_between(a, b, "l_quantity")
    assert ks_same < 0.1  # same distribution
    shifted = b.withColumn("l_quantity", F.col("l_quantity") + 25.0)
    ks_diff = ks_between(a, shifted, "l_quantity")
    assert ks_diff > 0.3


@pytest.mark.parametrize(
    "column,scale",
    [("l_quantity", 1.0), ("l_extendedprice", 1.01), ("l_discount", 1.01)],
)
def test_ks_sketch_within_error_budget_of_exact(spark, column, scale):
    """Drift error budget: the approx-quantile KS (ks_between,
    npoints=100) stays within 2/npoints of the exact KS (ks_exact_df)
    on sf0.01 lineitem, even vs odd l_orderkey, with the odd half
    unshifted or scaled by 1.01 — so a verdict near a KS threshold can
    only flip inside that band."""
    from test_oracle_parity import SF_DIR as ORACLE_SF_DIR

    from marshmallow_spark.operators.drift import ks_exact_df

    npoints = 100
    li = spark.read.parquet(f"{ORACLE_SF_DIR}/lineitem.parquet")
    odd = F.col("l_orderkey") % 2
    v = F.col(column).cast("double")
    df = li.select(F.when(odd == 1, v * scale).otherwise(v).alias("v"), odd.alias("g"))
    sketch = ks_between(
        df.where(F.col("g") == 0), df.where(F.col("g") == 1), "v", npoints=npoints
    )
    exact = ks_exact_df(df, "v", "g").first().ks
    assert abs(sketch - exact) <= 2 / npoints, (column, scale, sketch, exact)


def test_histogram_and_psi(lineitem):
    a = lineitem.where(F.col("l_orderkey") % 2 == 0)
    b = lineitem.where(F.col("l_orderkey") % 2 == 1)
    assert psi_between(a, b, "l_quantity", 0, 50, 10) < 0.05
    shifted = b.withColumn("l_quantity", F.col("l_quantity") * 2.0)
    assert psi_between(a, shifted, "l_quantity", 0, 50, 10) > 0.2


def test_ks_statistic_math():
    a = [float(i) for i in range(101)]
    b = [float(i) + 50 for i in range(101)]
    assert ks_statistic(a, a) == 0.0
    assert ks_statistic(a, b) == pytest.approx(0.5, abs=0.02)


def test_psi_math():
    assert psi({0: 50, 1: 50}, {0: 50, 1: 50}, 2) == pytest.approx(0.0)
    assert psi({0: 100}, {1: 100}, 2) > 1.0


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """write_bucketed co-locates both join sides: the physical plan for
    a key-equijoin of two tables bucketed on that key contains NO
    shuffle exchange (the 10^12-row justification in sources/tables.py)."""
    from marshmallow_spark.sources.tables import write_bucketed

    a = spark.range(0, 5000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 5000, 2).selectExpr("id AS k", "id + 1 AS vb")
    write_bucketed(a, "msk_bucket_a", "k", 4, path=str(tmp_path / "a"))
    write_bucketed(b, "msk_bucket_b", "k", 4, path=str(tmp_path / "b"))
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ta = spark.table("msk_bucket_a")
        tb = spark.table("msk_bucket_b")
        joined = ta.join(tb, "k")
        assert joined.count() == 2500
        # final (post-AQE) plan: a SortMergeJoin fed straight by the
        # bucketed scans, with no shuffle on either side
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS msk_bucket_a")
        spark.sql("DROP TABLE IF EXISTS msk_bucket_b")


def test_deterministic_sample_stability(spark):
    """The same keys survive at any parallelism and on every run; the
    kept fraction tracks the rate."""
    from marshmallow_spark.operators.sampling import deterministic_sample

    df1 = spark.range(0, 20000).selectExpr("CAST(id AS STRING) AS k")
    df8 = df1.repartition(8)
    a = {r.k for r in deterministic_sample(df1, "k", 0.25).collect()}
    b = {r.k for r in deterministic_sample(df8, "k", 0.25).collect()}
    assert a == b
    assert 0.23 < len(a) / 20000 < 0.27
    # nested rates: a 10% sample is a subset of a 25% sample
    c = {r.k for r in deterministic_sample(df1, "k", 0.10).collect()}
    assert c <= a


def test_assign_split_fractions_and_determinism(spark):
    from marshmallow_spark.operators.sampling import assign_split

    df = spark.range(0, 30000).selectExpr("CAST(id AS STRING) AS k")
    out = assign_split(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.n for r in out.groupBy("split").agg(
        __import__("pyspark.sql.functions", fromlist=["F"]).count("*").alias("n")
    ).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert 0.78 < counts["train"] / 30000 < 0.82
    # stable across recomputation
    out2 = assign_split(df.repartition(16), "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    joined = out.join(out2.withColumnRenamed("split", "split2"), "k")
    assert joined.where("split != split2").count() == 0


def test_exact_dedup_modes_agree(spark):
    """window (bodies ride one shuffle) and agg_join (digest-only agg +
    winner-id semi-join, bodies never shuffle) must return identical
    rows; auto picks window for small bodies and agg_join for large."""
    from marshmallow_spark.operators.dedup import exact_dedup

    rows = [
        ("a", "same content"),
        ("b", "same content"),
        ("c", "unique one"),
        ("d", "same content"),
        ("e", "unique two"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string").repartition(4)
    want = {("a", "same content"), ("c", "unique one"), ("e", "unique two")}
    for mode in ("window", "agg_join", "auto"):
        got = {tuple(r) for r in exact_dedup(df, "doc_id", mode=mode).collect()}
        assert got == want, (mode, got)

    big = df.withColumn("text", F.concat(F.col("text"), F.lit("x" * 5000)))
    got_big = {
        r.doc_id for r in exact_dedup(big, "doc_id", mode="auto").collect()
    }
    assert got_big == {"a", "c", "e"}
    with pytest.raises(ValueError, match="window | agg_join | auto"):
        exact_dedup(df, "doc_id", mode="bogus").collect()


def test_ks_exact_df_matches_reference_computation(spark):
    """Distributed exact KS == the plain sorted-cumulative-CDF answer,
    across bucket counts (1 = degenerate single bucket; 1000 > the
    distinct-value count, so most buckets are empty) and both persist
    modes. Values are drawn with heavy ties to exercise the
    distinct-value aggregation."""
    import random

    from marshmallow_spark.operators.drift import ks_exact_df

    rng = random.Random(7)
    rows = [(float(rng.randint(0, 40)) / 2.0, rng.randint(0, 1)) for _ in range(3000)]
    # shift group 1 so the KS is materially nonzero
    rows = [(v + (1.5 if g else 0.0), g) for v, g in rows]

    xs0 = sorted(v for v, g in rows if g == 0)
    xs1 = sorted(v for v, g in rows if g == 1)
    points = sorted({v for v, _ in rows})

    def cdf(xs, x):
        import bisect

        return bisect.bisect_right(xs, x) / len(xs)

    want = round(max(abs(cdf(xs0, x) - cdf(xs1, x)) for x in points), 6)

    df = spark.createDataFrame(rows, "v double, g int").repartition(8)
    for nb in (1, 8, 1000):
        for persist in (True, False):
            got = ks_exact_df(
                df, "v", "g", num_buckets=nb, persist=persist
            ).first().ks
            assert abs(got - want) < 1e-9, (nb, persist, got, want)


def test_wasserstein1_df_matches_reference_and_shift(spark):
    """Distributed exact W1 == the plain sorted-CDF integral across
    bucket counts and persist modes, and a pure location shift of d
    reports exactly d (the defining property KS lacks)."""
    import random

    from marshmallow_spark.operators.drift import wasserstein1_df

    rng = random.Random(11)
    base = [float(rng.randint(0, 40)) / 2.0 for _ in range(1500)]
    rows = [(v, 0) for v in base] + [(v + 1.25, 1) for v in base]

    xs0 = sorted(v for v, g in rows if g == 0)
    xs1 = sorted(v for v, g in rows if g == 1)
    points = sorted({v for v, _ in rows})

    def cdf(xs, x):
        import bisect

        return bisect.bisect_right(xs, x) / len(xs)

    want = round(
        sum(
            abs(cdf(xs0, a) - cdf(xs1, a)) * (b - a)
            for a, b in zip(points, points[1:])
        ),
        6,
    )
    # identical shapes offset by 1.25 -> W1 is exactly the shift
    assert abs(want - 1.25) < 1e-9

    df = spark.createDataFrame(rows, "v double, g int").repartition(8)
    for nb in (1, 8, 1000):
        for persist in (True, False):
            got = wasserstein1_df(
                df, "v", "g", num_buckets=nb, persist=persist
            ).first().w1
            assert abs(got - want) < 1e-9, (nb, persist, got, want)


def test_two_sample_drift_ignores_rows_outside_groups_0_and_1(spark):
    """Rows whose group is NULL or any value other than 0/1 belong to
    neither population: adding 50 NULL-group and 50 group-2 rows to a
    0/1 frame leaves KS, W1 and PSI exactly as they were."""
    from marshmallow_spark.operators.drift import (
        ks_exact_df,
        psi_df,
        wasserstein1_df,
    )

    rows = [(float(i % 50), i % 2) for i in range(200)]
    noise = [(100.0 + i, None) for i in range(50)] + [(-50.0 - i, 2) for i in range(50)]
    clean = spark.createDataFrame(rows, "v double, g int")
    dirty = spark.createDataFrame(rows + noise, "v double, g int")

    def measures(df):
        return (
            ks_exact_df(df, "v", "g", num_buckets=8).first().ks,
            wasserstein1_df(df, "v", "g", num_buckets=8).first().w1,
            psi_df(df, "v", "g", 0.0, 50.0, 10).first().psi,
        )

    assert measures(dirty) == measures(clean)


def test_zscore_outliers_planted_and_degenerate(spark):
    """zscore_outliers: a planted extreme value is flagged with the
    right z; zero-variance and single-member groups emit nothing
    (stddev 0 or NULL never satisfies the strict inequality)."""
    from marshmallow_spark.operators.stats import zscore_outliers

    rows = [("g1", i, 10.0) for i in range(20)]
    rows += [("g1", 100, 10.5), ("g1", 101, 1000.0)]  # 101 is the outlier
    rows += [("flat", i, 5.0) for i in range(5)]      # zero variance
    rows += [("solo", 0, 99.0)]                       # single member
    df = spark.createDataFrame(rows, "grp string, id long, v double")
    out = zscore_outliers(df, "grp", "v", "id", z=3.0).collect()
    assert [(r.grp, r.id) for r in out] == [("g1", 101)]
    assert out[0].zscore > 3.0


def test_tfidf_topk_planted_discriminative_term(spark):
    """tfidf_topk: a repeated rare term outranks the corpus-wide
    stopword in its doc; a high-tf stopword still wins where nothing
    rarer repeats; exactly k rows per doc."""
    from marshmallow_spark.operators.text import tfidf_topk

    docs = [
        (1, "the the the zebra"),
        (2, "the the the the"),
        (3, "the apple apple"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = tfidf_topk(df, "doc_id", "text", k=1).collect()
    top = {r.doc_id: r.term for r in out}
    # doc 1: 'the' 3*(ln(4/4)+1)=3.0 beats 'zebra' 1*(ln(4/2)+1)=1.693
    assert top[1] == "the"
    assert top[2] == "the"
    # doc 3: 'apple' 2*(ln(4/2)+1)=3.386 beats 'the' 1.0
    assert top[3] == "apple"
    assert len(out) == 3  # k=1 per doc


def test_unigram_logprob_orders_typical_above_rare(spark):
    """unigram_logprob: a doc of corpus-typical words scores strictly
    higher than a doc of corpus-rare words, and n_tokens is exact."""
    from marshmallow_spark.operators.text import unigram_logprob

    docs = [
        (1, "a a a a"),
        (2, "a a a a"),
        (3, "rare words here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in unigram_logprob(df, "doc_id", "text").collect()}
    assert out[1].n_tokens == 4 and out[3].n_tokens == 3
    assert out[1].logprob > out[3].logprob
    assert out[1].logprob == out[2].logprob  # identical docs, identical score


def test_fuzzy_match_pairs_blocking_and_support(spark):
    """fuzzy_match_pairs: near names in the same block pair up with
    the right distance and support counts; cross-block near names are
    invisible (blocking contract); distant same-block names are cut."""
    from marshmallow_spark.operators.linkage import fuzzy_match_pairs

    rows = (
        [("red bolt",)] * 3
        + [("red bold",)] * 2          # dist 1, same block
        + [("red completely other",)]  # same block, dist > max
        + [("blue bolt",)]             # near 'red bolt' but other block
    )
    df = spark.createDataFrame(rows, "name string")
    out = fuzzy_match_pairs(df, "name", max_dist=2).collect()
    assert len(out) == 1
    p = out[0]
    assert (p.name_a, p.name_b) == ("red bold", "red bolt")
    assert p.dist == 1
    assert (p.n_a, p.n_b) == (2, 3)


def test_pii_scan_and_redact_roundtrip(spark):
    """pii_scan counts each planted kind; pii_redact removes every
    match so a re-scan finds nothing; clean text passes untouched."""
    from marshmallow_spark.operators.text import pii_redact, pii_scan

    rows = [
        (1, "mail me at jo.doe+x@exa-mple.org or jo@ex.io thanks"),
        (2, "call 555-867-5309 from host 192.168.0.1 now"),
        (3, "nothing sensitive here"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in pii_scan(df, "doc_id", "text").collect()}
    assert (got[1].n_email, got[1].n_phone, got[1].n_ipv4) == (2, 0, 0)
    assert (got[2].n_email, got[2].n_phone, got[2].n_ipv4) == (0, 1, 1)
    assert got[3].has_pii is False and got[4].has_pii is False
    red = pii_redact(df, "text")
    rescanned = {r.doc_id: r for r in pii_scan(red, "doc_id", "text").collect()}
    assert all(not rescanned[i].has_pii for i in (1, 2, 3, 4))
    kept = {r.doc_id: r.text for r in red.collect()}
    assert kept[3] == "nothing sensitive here"
    assert "[PII]" in kept[1] and "jo@ex.io" not in kept[1]


def test_normalize_text_expr_merges_surface_variants(spark):
    """normalize_text_expr: case, punctuation runs, and whitespace
    runs all collapse to one canonical form."""
    from pyspark.sql import functions as F

    from marshmallow_spark.operators.text import normalize_text_expr

    rows = [
        ("Hello,  World!!",),
        ("hello world",),
        ("  HELLO--WORLD  ",),
        ("helloworld",),  # different: no separator
    ]
    df = spark.createDataFrame(rows, "text string")
    out = [r[0] for r in df.select(normalize_text_expr("text")).collect()]
    assert out[0] == out[1] == out[2] == "hello world"
    assert out[3] == "helloworld"


def test_chunk_documents_boundaries_and_overlap(spark):
    """chunk_documents: exact-fit docs yield one chunk; one token over
    starts a second chunk that shares `overlap` tokens; short docs
    yield one short chunk; reassembling de-overlapped chunks restores
    the doc."""
    from marshmallow_spark.operators.text import chunk_documents

    toks65 = [f"t{i}" for i in range(65)]
    rows = [
        (1, " ".join(f"t{i}" for i in range(64))),  # exact fit
        (2, " ".join(toks65)),                       # 64 + 1
        (3, "a b c"),                                # short
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, "doc_id", "text", chunk_tokens=64, overlap=16)
    by = {}
    for r in out.collect():
        by.setdefault(r.doc_id, {})[r.chunk_index] = r
    assert list(by[1]) == [0] and by[1][0].n_chunk_tokens == 64
    assert sorted(by[2]) == [0, 1]
    c0, c1 = by[2][0].chunk_text.split(" "), by[2][1].chunk_text.split(" ")
    assert len(c0) == 64 and by[2][1].n_chunk_tokens == 17
    assert c0[48:] == c1[:16]            # 16-token overlap
    assert c0 + c1[16:] == toks65        # lossless reassembly
    assert by[3][0].chunk_text == "a b c" and by[3][0].n_chunk_tokens == 3


def test_token_pmi_planted_collocation(spark):
    """token_pmi_topk: a pair that ALWAYS co-occurs scores ln(N/ ...)
    above independent fillers; pairs under min support are cut."""
    import math

    from marshmallow_spark.operators.text import token_pmi_topk

    # 'alpha beta' always together (10 docs); 'noise' everywhere
    rows = [(f"alpha beta noise f{i % 2}",) for i in range(10)]
    rows += [("noise only here",)] * 10
    df = spark.createDataFrame(rows, "text string")
    out = token_pmi_topk(df, "text", k=5, min_pair_docs=5)
    top = out.collect()[0]
    assert (top.a, top.b) == ("alpha", "beta")
    # df_ab=10, df_a=df_b=10, N=20 -> pmi = ln(10*20/100) = ln 2
    assert abs(top.pmi - round(math.log(2), 6)) < 1e-9


def test_bm25_ranks_term_dense_short_docs_first(spark):
    """bm25_topk: a short doc saturated with the query term outranks a
    long doc that mentions it once; docs without any query term never
    appear; rarer query terms carry higher idf."""
    from marshmallow_spark.operators.text import bm25_topk

    rows = [
        (1, "table table table"),                         # short, dense
        (2, "table " + "filler " * 60 + "end"),           # long, sparse
        (3, "merge once " + "pad " * 10 + "tail"),        # rare term
        (4, "nothing relevant at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_topk(
        df, "doc_id", "text", query_terms=("table", "merge"), k=10
    ).collect()
    ids = [r.doc_id for r in out]
    assert 4 not in ids and set(ids) == {1, 2, 3}
    by = {r.doc_id: r.bm25 for r in out}
    assert by[1] > by[2]  # density + length normalization
    # doc 3's 'merge' (df=1) has higher idf than 'table' (df=2): its
    # single rare hit beats doc 2's single common hit in a longer doc
    assert by[3] > by[2]


def test_quantization_error_exact_small_grid(spark):
    """quantization_error_by_group: hand-checkable 1-D case — values
    on the grid quantize losslessly, off-grid values err by the
    expected squared distance; constant dimensions contribute zero."""
    from marshmallow_spark.operators.similarity import (
        quantization_error_by_group,
    )

    # dim0 range [0, 255] -> grid step 1.0; dim1 constant
    rows = [
        ("a", 1, [0.0, 7.0]),
        ("a", 2, [255.0, 7.0]),
        ("a", 3, [100.5, 7.0]),   # exactly between levels 100 and 101
        ("b", 4, [42.0, 7.0]),    # on-grid
    ]
    df = spark.createDataFrame(
        rows, "label string, vec_id long, embedding array<float>"
    )
    out = {
        r.label: r
        for r in quantization_error_by_group(
            df, "vec_id", "embedding", "label"
        ).collect()
    }
    # group b: on-grid everywhere -> zero error
    assert out["b"].avg_qerr == 0.0 and out["b"].n_vecs == 1
    # group a: only vec 3 errs, by 0.5^2 = 0.25 -> avg over 3 vecs
    assert abs(out["a"].avg_qerr - 0.25 / 3) < 1e-9


def test_leakage_safe_split_moves_only_leaky_holdout(spark):
    """leakage_safe_split: a holdout doc near-identical to a train doc
    moves to train (moved=True); unrelated holdout docs stay; train
    assignments never change; no rows are lost."""
    from marshmallow_spark.operators.sampling import (
        assign_split,
        leakage_safe_split,
    )

    ids = list(range(1, 41))
    probe = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    split = {
        r.doc_id: r.split
        for r in assign_split(
            probe, "doc_id", {"train": 0.5, "holdout": 0.5}
        ).collect()
    }
    train_ids = [i for i in ids if split[i] == "train"]
    hold_ids = [i for i in ids if split[i] == "holdout"]
    assert len(train_ids) >= 2 and len(hold_ids) >= 2
    t0, h_leak, h_clean = train_ids[0], hold_ids[0], hold_ids[1]
    base_text = "the quick brown fox jumps over the lazy dog again and again"
    rows = []
    for i in ids:
        if i == t0:
            rows.append((i, base_text))
        elif i == h_leak:
            rows.append((i, base_text + " ok"))  # near-dup of t0
        else:
            # genuinely dissimilar fillers: hash-derived tokens (a
            # shared TEMPLATE — "filler number {i}" or even
            # "tok{i}q{j}z" — leaks through char shingles at J >= 0.5
            # and correctly trips the dedup; the first two versions of
            # this test proved that the hard way)
            import hashlib

            rows.append(
                (
                    i,
                    " ".join(
                        hashlib.md5(f"{i}-{j}".encode()).hexdigest()[:8]
                        for j in range(12)
                    ),
                )
            )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in leakage_safe_split(
            df, "doc_id", "text",
            fractions={"train": 0.5, "holdout": 0.5},
        ).collect()
    }
    assert len(out) == len(ids)
    assert out[h_leak].split == "train" and out[h_leak].moved is True
    assert out[h_clean].split == "holdout" and out[h_clean].moved is False
    for i in train_ids:
        assert out[i].split == "train" and out[i].moved is False


def test_train_ivf_codebook_recovers_separable_clusters(spark):
    """Two well-separated direction clusters: after 2 Lloyd's
    iterations the two centroids align with the true cluster means
    (cosine > 0.999 each), assignments are pure, and an empty cell
    (k=3 on 2 clusters can strand the third seed) keeps its previous
    centroid rather than crashing or going NaN."""
    import numpy as np

    from marshmallow_spark.operators.similarity import (
        ivf_assign_expr,
        train_ivf_codebook,
    )

    rng = np.random.default_rng(5)
    a = np.array([1.0, 0.0, 0.0, 0.0])
    b = np.array([0.0, 1.0, 0.0, 0.0])
    rows = []
    for i in range(40):
        base = a if i % 2 == 0 else b
        v = base + 0.05 * rng.standard_normal(4)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cb = train_ivf_codebook(df, "vec_id", "embedding", k=2, iters=2)
    got = [np.array(c) / np.linalg.norm(c) for c in cb]
    # seeds were one vector from each cluster (ids 0 and 1), so cell 0
    # should converge near a, cell 1 near b
    assert float(got[0] @ a) > 0.999 and float(got[1] @ b) > 0.999

    # k=3: seed 2 (an a-cluster vector) competes with seed 0; whatever
    # cells end up empty must keep finite previous centroids
    cb3 = train_ivf_codebook(df, "vec_id", "embedding", k=3, iters=2)
    assert len(cb3) == 3
    assert all(np.isfinite(c).all() for c in map(np.array, cb3))


def test_divergence_report_matches_standalone_operators(spark):
    """divergence_report's psi and jsd equal psi_df / js_divergence_df
    on the same frame and bins (the chi2 member has no numeric-bin
    standalone — its homogeneity table is checked in the fuzzier
    chi2_drift_df tests and by the q85 oracle)."""
    from marshmallow_spark.operators.drift import (
        divergence_report,
        js_divergence_df,
        psi_df,
    )

    df = spark.range(0, 8000).selectExpr(
        "CAST(id % 97 AS DOUBLE) + CASE WHEN id % 2 = 1 THEN 7.0 ELSE 0.0 END AS v",
        "CAST(id % 2 AS INT) AS g",
    )
    rep = divergence_report(df, "v", "g", 0.0, 104.0, 16).first()
    psi = psi_df(df, "v", "g", 0.0, 104.0, 16).first().psi
    jsd = js_divergence_df(df, "v", "g", 0.0, 104.0, 16).first().jsd
    assert rep.psi == psi and rep.jsd == jsd
    assert rep.chi2 > 0 and rep.dof == 15


def test_packed_shingle_verify_matches_ground_truth(spark):
    """The round-6 int64 shingle packing in the Jaccard verify must be
    a bijection: (inter, uni) for every candidate pair equals the
    pure-Python distinct-3-shingle set computation — including unicode
    (multibyte and astral codepoints), shorter-than-k documents, and
    the empty string."""
    from marshmallow_spark.operators.dedup import ngram_jaccard_pairs

    texts = {
        1: "the quick brown fox jumps",
        2: "the quick brown fox jumped",
        3: "café con leche éclair",
        4: "café con leche",
        5: "字字字 \U0001F600\U0001F600 abc",
        6: "字字 \U0001F600 abc",
        7: "ab",
        8: "a",
        9: "",
        10: "abx",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    ids = sorted(texts)
    cands = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "a long, b long"
    )
    got = {
        (r.a, r.b): (r.inter, r.uni)
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", k=3, candidates=cands, min_jaccard=0.0
        ).collect()
    }

    def shingles(t):
        if len(t) <= 3:
            return {t}
        return {t[i : i + 3] for i in range(len(t) - 2)}

    for a in ids:
        for b in ids:
            if a >= b:
                continue
            sa, sb = shingles(texts[a]), shingles(texts[b])
            inter = len(sa & sb)
            uni = len(sa) + len(sb) - inter
            if inter > 0:
                assert got[(a, b)] == (inter, uni), (a, b, got.get((a, b)), inter, uni)
            else:
                assert (a, b) not in got
