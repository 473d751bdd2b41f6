"""Similarity-search and text-sketch operators not covered by the
SQL oracle gate (LSH top-k, embedding near-dup, rolling-hash sketch)."""

import pytest
from pyspark.sql import functions as F

from marshmallow_spark.operators.dedup import embedding_near_duplicates
from marshmallow_spark.operators.similarity import (
    bucket_expr,
    cosine_topk,
    lsh_topk,
)
from marshmallow_spark.operators.text import rolling_hash_fingerprints


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)


def test_lsh_topk_consistent_with_exact(spark, emb):
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(emb, "vec_id", "embedding", k=5).collect()
    }
    approx = lsh_topk(emb, "vec_id", "embedding", k=5, num_planes=6, dim=64).collect()
    assert len(approx) > 0
    # every approx pair's cosine must equal the exact computation
    approx_cos = {(r.query_id, r.neighbor_id): r.cosine for r in approx}
    overlap = set(approx_cos) & set(exact)
    assert overlap, "LSH found none of the true top-5 pairs"
    for pair in overlap:
        assert abs(approx_cos[pair] - exact[pair]) < 1e-9


def test_bucket_expr_deterministic(spark, emb):
    def buckets():
        b = bucket_expr("embedding", num_planes=6, dim=64).alias("bucket")
        return {r.vec_id: r.bucket for r in emb.select("vec_id", b).collect()}

    b1 = buckets()
    b2 = buckets()
    assert b1 == b2
    assert all(0 <= v < 64 for v in b1.values())


def test_embedding_near_duplicates_finds_planted_pair(spark):
    base = [1.0] + [0.0] * 7
    near = [0.999] + [0.02] + [0.0] * 6
    ortho = [0.0] * 7 + [1.0]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, ortho)], "id int, embedding array<float>"
    )
    pairs = {
        (r.a, r.b)
        for r in embedding_near_duplicates(
            df, "id", "embedding", min_cosine=0.95, allow_exact_pairs=True
        ).collect()
    }
    assert pairs == {(1, 2)}


def test_embedding_near_duplicates_guards_quadratic_fallback(spark):
    """The all-pairs crossJoin cannot ship silently (r4 verdict): no
    candidates and no opt-in raises; opting in still enforces the
    row-count ceiling."""
    import pytest

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)],
        "id int, embedding array<float>",
    )
    with pytest.raises(ValueError, match="quadratic"):
        embedding_near_duplicates(df, "id", "embedding")
    with pytest.raises(ValueError, match="exact_pairs_limit"):
        embedding_near_duplicates(
            df, "id", "embedding", allow_exact_pairs=True, exact_pairs_limit=3
        )


def test_connected_components_clusters(spark):
    from marshmallow_spark.operators.dedup import connected_components_star

    # two chains + an isolated pair: {1,2,3,4}, {7,8}, {10,11}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8), (11, 10)], "a long, b long"
    )
    comp = {r.id: r.comp for r in connected_components_star(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7, 10: 10, 11: 10}


def test_rolling_hash_containment(spark):
    shared = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            ("a", shared),
            ("b", "PREFIX >> " + shared + " << SUFFIX"),
            ("c", "completely different content with no overlap whatsoever!"),
        ],
        "id string, text string",
    )
    rows = {r.id: set(r.hashes) for r in rolling_hash_fingerprints(df, "id", "text").collect()}
    jac_ab = len(rows["a"] & rows["b"]) / len(rows["a"] | rows["b"])
    jac_ac = len(rows["a"] & rows["c"]) / len(rows["a"] | rows["c"])
    assert jac_ab > 0.2       # containment visible through the sketch
    assert jac_ac < 0.05      # unrelated docs share ~nothing


# --- round-2 scale-fix regressions ------------------------------------------

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_ngram_jaccard_candidates_path_matches_no_candidates(spark):
    from marshmallow_spark.operators import dedup

    # "xxth" family shares the stop-shingle-ish grams; two near-dup pairs
    df = _docs(spark, [
        ("d1", "the cat sat on the mat"),
        ("d2", "the cat sat on the hat"),
        ("d3", "a completely different sentence"),
        ("d4", "the cat sat on the mat"),
    ])
    full = dedup.ngram_jaccard_pairs(df, "doc_id", "text", min_jaccard=0.5)
    want = {tuple(r) for r in full.collect()}
    cand = spark.createDataFrame(
        [("d1", "d2"), ("d1", "d4"), ("d2", "d4"), ("d1", "d3")], "a string, b string"
    )
    got = {
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", candidates=cand, min_jaccard=0.5
        ).collect()
    }
    # candidate path returns the subset of `want` within the pair list
    assert got == {r for r in want if (r[0], r[1]) in
                   {("d1", "d2"), ("d1", "d4"), ("d2", "d4"), ("d1", "d3")}}
    assert ("d1", "d4") in {(a, b) for a, b, *_ in got}


def test_ngram_jaccard_stop_shingle_df_cap(spark):
    from marshmallow_spark.operators import dedup

    # every doc shares " th" — with a df cap of 3 the ubiquitous shingles
    # drop out and only genuinely-similar pairs survive
    rows = [(f"d{i}", f"the {i} the thing the") for i in range(6)]
    rows += [("x1", "zebra quagga okapi"), ("x2", "zebra quagga okapi")]
    df = _docs(spark, rows)
    capped = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", min_jaccard=0.9, max_doc_freq=3
    )
    got = {(r["a"], r["b"]) for r in capped.collect()}
    assert ("x1", "x2") in got


def test_one_band_lsh_salted_equals_unsalted(spark):
    from marshmallow_spark.operators import dedup

    # planted degenerate band: 30 empty-ish docs share the same signature
    rows = [(f"e{i:02d}", 7, 7) for i in range(30)]
    rows += [("a1", 1, 2), ("a2", 1, 2), ("b1", 3, 4)]
    sigs = spark.createDataFrame(rows, "doc_id string, h0 int, h1 int")
    one_band = dict(num_bands=1, rows_per_band=2)
    plain = [
        tuple(r)
        for r in dedup.lsh_banded_pairs(sigs, "doc_id", **one_band).collect()
    ]
    salted = [
        tuple(r)
        for r in dedup.lsh_banded_pairs(
            sigs, "doc_id", salt_threshold=10, num_salts=4, **one_band
        ).collect()
    ]
    # one band skips the final distinct: each pair must still meet once
    assert len(plain) == len(set(plain)) and len(salted) == len(set(salted))
    plain, salted = set(plain), set(salted)
    assert salted == plain
    assert ("a1", "a2") in salted
    assert len([p for p in salted if p[0].startswith("e")]) == 30 * 29 // 2


def test_simhash_single_hash_pass_plan(spark):
    from marshmallow_spark.operators import dedup

    df = _docs(spark, [("d1", "alpha beta gamma"), ("d2", "alpha beta delta")])
    sim = dedup.simhash(df, "doc_id", "text", bits=32)
    plan = sim._jdf.queryExecution().optimizedPlan().toString()
    # the hashed-token transform must appear exactly once per row, not 32x
    assert plan.count("md5") == 1, f"md5 appears {plan.count('md5')}x in plan"
    vals = {r["doc_id"]: r["simhash"] for r in sim.collect()}
    assert 0 <= vals["d1"] < (1 << 32) and 0 <= vals["d2"] < (1 << 32)


def test_connected_components_star_matches_union_find(spark):
    """Large-star/small-star CC (giant-component-safe) agrees with a
    driver-side union-find on assorted graph shapes, and keeps agreeing
    under assume_normalized=True when the input carries a self-loop and
    a duplicate edge."""
    import random

    from marshmallow_spark.operators.dedup import connected_components_star

    rng = random.Random(7)
    edges = []
    # chain 0..9, clique 100..104, star 200<-201..230, random pairs
    edges += [(f"n{i}", f"n{i+1}") for i in range(9)]
    edges += [(f"c{i}", f"c{j}") for i in range(5) for j in range(i + 1, 5)]
    edges += [("s200", f"s{200+i}") for i in range(1, 31)]
    edges += [(f"r{rng.randrange(40)}", f"r{rng.randrange(40)}") for _ in range(30)]
    edges = [(a, b) for a, b in edges if a != b]

    # driver-side union-find oracle
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(x, y):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}
    # canonicalize: min member per component
    comp_min = {}
    for x, r in want.items():
        comp_min.setdefault(r, x)
        comp_min[r] = min(comp_min[r], x)
    want = {x: comp_min[find(x)] for x in parent}

    df = spark.createDataFrame(edges, "a string, b string")
    star = {r.id: r.comp for r in connected_components_star(df).collect()}
    assert star == want

    # a self-loop on a chain node and a repeat of a clique edge change
    # no component; the flag skips only the distinct, never the
    # self-loop filter
    messy = spark.createDataFrame(
        edges + [("n5", "n5"), ("c1", "c3")], "a string, b string"
    )
    star = {
        r.id: r.comp
        for r in connected_components_star(messy, assume_normalized=True).collect()
    }
    assert star == want


# --- multi-band MinHash LSH recall (round-4 verdict item #1) ---------------


def _mutate(text: str, stride: int) -> str:
    # substitute every stride-th character -> degrades 3-gram Jaccard
    out = list(text)
    for i in range(0, len(out), stride):
        out[i] = "Q" if out[i] != "Q" else "Z"
    return "".join(out)


def _jaccard3(x: str, y: str) -> float:
    gx = {x[i : i + 3] for i in range(max(len(x) - 2, 1))}
    gy = {y[i : i + 3] for i in range(max(len(y) - 2, 1))}
    return len(gx & gy) / len(gx | gy)


@pytest.fixture(scope="module")
def planted_corpus(spark):
    """60 deterministic base docs + a borderline near-dup partner each
    (3-gram Jaccard in [0.45, 0.70] — right at the verify threshold),
    plus unrelated filler. Returns (df, planted_pairs_at_J>=0.5)."""
    import random

    rng = random.Random(42)
    alpha = "abcdefghijklmnopqrstuvwxyz 0123456789"
    rows, planted = [], []
    for i in range(60):
        base = "".join(rng.choice(alpha) for _ in range(150))
        partner = _mutate(base, stride=10)
        j = _jaccard3(base, partner)
        a, b = f"doc{i:03d}a", f"doc{i:03d}b"
        rows += [(a, base), (b, partner)]
        if 0.5 <= j <= 0.7:
            planted.append((a, b))
    for i in range(60):
        rows.append((f"fill{i:03d}", "".join(rng.choice(alpha) for _ in range(150))))
    assert len(planted) >= 30, f"corpus drifted: only {len(planted)} planted"
    df = spark.createDataFrame(rows, "doc_id string, text string").repartition(8)
    return df, planted


def test_banded_lsh_recall_beats_single_band(spark, planted_corpus):
    """THE r3 scale gap: a single 4-hash band surfaces a J=0.5 pair with
    probability J^4 ~ 6%; 4 bands x 4 rows surface it with
    1-(1-J^4)^4. On the planted borderline pairs the banded generator
    must (a) be a strict superset of the single-band generator (band 0
    IS h0..h3 — prefix stability), and (b) recover pairs the
    single-band config provably misses."""
    from marshmallow_spark.operators.dedup import (
        lsh_banded_pairs,
        minhash_signatures,
    )

    df, planted = planted_corpus
    sigs = minhash_signatures(df, "doc_id", "text", num_hashes=16, k=3).persist()
    single = {
        (r.a, r.b)
        for r in lsh_banded_pairs(
            sigs, "doc_id", num_bands=1, rows_per_band=4
        ).collect()
    }
    banded = {
        (r.a, r.b)
        for r in lsh_banded_pairs(
            sigs, "doc_id", num_bands=4, rows_per_band=4
        ).collect()
    }
    sigs.unpersist()
    assert single <= banded, "banded candidates must contain band-0 matches"
    pset = set(planted)
    hit_single = pset & single
    hit_banded = pset & banded
    assert hit_single <= hit_banded
    # deterministic corpus: the banded generator recovers borderline
    # pairs the single band missed (checked against theory: ~6% vs ~23%
    # at J=0.5; the fixed seed makes the actual counts reproducible)
    assert len(hit_banded) > len(hit_single), (
        f"banded {len(hit_banded)} vs single {len(hit_single)}"
    )
    assert hit_banded - hit_single, "no pair recovered by extra bands"


def test_banded_lsh_salted_equals_unsalted(spark, planted_corpus):
    from marshmallow_spark.operators.dedup import (
        lsh_banded_pairs,
        minhash_signatures,
    )

    df, _ = planted_corpus
    sigs = minhash_signatures(df, "doc_id", "text", num_hashes=8, k=3).persist()
    plain = {
        (r.a, r.b)
        for r in lsh_banded_pairs(
            sigs, "doc_id", num_bands=4, rows_per_band=2
        ).collect()
    }
    salted = {
        (r.a, r.b)
        for r in lsh_banded_pairs(
            sigs, "doc_id", num_bands=4, rows_per_band=2,
            salt_threshold=4, num_salts=8,
        ).collect()
    }
    sigs.unpersist()
    assert plain == salted and plain


def test_star_candidates_same_components_as_all_pairs(spark, planted_corpus):
    """mode="star" emits only (bucket-min, member) spanning edges: a
    subset of the all-pairs candidates carrying IDENTICAL connectivity
    — union-find components over the star edges must equal components
    over the full pair set (that equivalence is what licenses the
    linear-volume trade for cluster-only dedup)."""
    from marshmallow_spark.operators.dedup import (
        lsh_banded_pairs,
        minhash_signatures,
    )

    df, _ = planted_corpus
    sigs = minhash_signatures(df, "doc_id", "text", num_hashes=16, k=3).persist()
    pairs = {
        (r.a, r.b)
        for r in lsh_banded_pairs(
            sigs, "doc_id", num_bands=4, rows_per_band=4
        ).collect()
    }
    star = {
        (r.a, r.b)
        for r in lsh_banded_pairs(
            sigs, "doc_id", num_bands=4, rows_per_band=4, mode="star"
        ).collect()
    }
    sigs.unpersist()
    assert star and star <= pairs, "every star edge is a within-bucket pair"

    def comps(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        groups = {}
        for n in parent:
            groups.setdefault(find(n), []).append(n)
        return {frozenset(g) for g in groups.values()}

    assert comps(star) == comps(pairs)


def test_star_candidates_linear_on_clique(spark):
    """The scale contract: a bucket of m mutual near-dups costs C(m, 2)
    all-pairs candidates but only m - 1 star edges, all anchored at the
    bucket minimum."""
    from marshmallow_spark.operators.dedup import (
        lsh_banded_pairs,
        minhash_signatures,
    )

    rows = [
        (f"d{i:02d}", "the quick brown fox jumps over the lazy dog")
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    sigs = minhash_signatures(df, "doc_id", "text", num_hashes=16, k=3).persist()
    pairs = lsh_banded_pairs(
        sigs, "doc_id", num_bands=4, rows_per_band=4
    ).collect()
    star = lsh_banded_pairs(
        sigs, "doc_id", num_bands=4, rows_per_band=4, mode="star"
    ).collect()
    sigs.unpersist()
    assert len(pairs) == 45  # C(10, 2)
    assert len(star) == 9  # m - 1
    assert all(r.a == "d00" for r in star)


def test_embedding_star_edges_subset_and_linear(spark):
    """lsh_near_duplicates mode="star": every star edge is a pairs-mode
    edge (same bucket, same cosine threshold), all edges anchor at the
    bucket minimum, and a clique of m identical vectors costs m - 1
    edges instead of C(m, 2)."""
    import random

    from marshmallow_spark.operators.similarity import lsh_near_duplicates

    rng = random.Random(11)
    dim = 16
    base = [rng.uniform(-1, 1) for _ in range(dim)]
    rows = [(i, [float(x) for x in base]) for i in range(8)]  # clique of 8
    for i in range(8, 40):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(dim)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    kw = dict(min_cosine=0.5, num_planes=4, dim=dim)
    pairs = {
        (r.a, r.b)
        for r in lsh_near_duplicates(df, "vec_id", "embedding", **kw).collect()
    }
    star_rows = lsh_near_duplicates(
        df, "vec_id", "embedding", mode="star", **kw
    ).collect()
    star = {(r.a, r.b) for r in star_rows}
    assert star and star <= pairs
    # the identical-vector clique: 7 star edges from vec 0, 28 pairs
    clique_star = {(a, b) for a, b in star if a == 0 and b < 8}
    clique_pairs = {(a, b) for a, b in pairs if a < 8 and b < 8}
    assert len(clique_star) == 7
    assert len(clique_pairs) == 28
    # bucket-anchoring: within any bucket all star edges share one `a`,
    # and each b appears at most once (one bucket per vector -> no
    # duplicate emission, no distinct needed)
    bs = [r.b for r in star_rows]
    assert len(bs) == len(set(bs))


def test_minhash_signatures_prefix_stable_and_null_text(spark):
    """h0..h3 identical across num_hashes (persisted signatures survive
    raising num_hashes); NULL text -> NULL signature, not the fold-init
    sentinel (advice r3)."""
    from marshmallow_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame(
        [("d1", "hello world"), ("d2", "completely different"), ("dn", None)],
        "doc_id string, text string",
    )
    s4 = {r.doc_id: r for r in minhash_signatures(df, "doc_id", "text", num_hashes=4).collect()}
    s16 = {r.doc_id: r for r in minhash_signatures(df, "doc_id", "text", num_hashes=16).collect()}
    for d in ("d1", "d2"):
        for j in range(4):
            assert s4[d][f"h{j}"] == s16[d][f"h{j}"], (d, j)
    assert all(s16["dn"][f"h{j}"] is None for j in range(16))
    assert all(s4["dn"][f"h{j}"] is None for j in range(4))


# --- multi-probe hyperplane LSH recall (round-4 verdict item #4) -----------


def test_lsh_multiprobe_recovers_cross_boundary_neighbors(spark, emb):
    """A vector whose nearest neighbor sits across one hyperplane
    boundary is invisible to the single-bucket probe; flipping the
    weakest (smallest-|dot|) bit must recover a strict superset of the
    true top-5 pairs on this fixed corpus. Also pins probe-list
    structure: element 0 is the home bucket, probes are distinct."""
    from marshmallow_spark.operators.similarity import probe_buckets_expr

    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, "vec_id", "embedding", k=5).collect()
    }
    single = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(
            emb, "vec_id", "embedding", k=5, num_planes=8, dim=64
        ).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(
            emb, "vec_id", "embedding", k=5, num_planes=8, dim=64,
            nprobe=2,
        ).collect()
    }
    hit_single = len(exact & single)
    hit_multi = len(exact & multi)
    assert hit_multi > hit_single, (hit_multi, hit_single)

    probed = emb.select(
        "vec_id",
        probe_buckets_expr("embedding", num_planes=8, dim=64, nprobe=3).alias("pb"),
    ).collect()
    home = {
        r.vec_id: r.b
        for r in emb.select(
            "vec_id", bucket_expr("embedding", num_planes=8, dim=64).alias("b")
        ).collect()
    }
    for r in probed:
        assert r.pb[0] == home[r.vec_id]
        assert len(set(r.pb)) == 3  # distinct one-bit flips


def test_contamination_pairs_planted_and_distinct(spark):
    """contamination_pairs: a train doc quoting a benchmark sentence
    verbatim is flagged with the exact distinct-n-gram overlap; clean
    docs are not; a phrase REPEATED inside one train doc does not
    inflate shared_ngrams (both sides are distinct-ed); docs shorter
    than n tokens contribute nothing (empty n-gram array, not a
    descending-sequence artifact)."""
    from marshmallow_spark.operators.text import (
        contamination_pairs,
        token_ngram_expr,
    )

    quote = "the quick brown fox jumps over the lazy dog"  # 9 tokens
    bench = spark.createDataFrame(
        [(100, quote), (101, "completely different benchmark words here now")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "prefix words then " + quote + " suffix words"),
            (2, "unrelated training document with its own content entirely"),
            (3, quote + " and again " + quote),  # repeats the phrase
            (4, "tiny doc"),  # shorter than n tokens
        ],
        "doc_id long, text string",
    )
    out = contamination_pairs(
        train, bench, "doc_id", "doc_id", "text", n=5, min_shared=3
    )
    rows = {(r.train_id, r.bench_id): r.shared_ngrams for r in out.collect()}
    # the 9-token quote has 5 distinct 5-grams; both quoting docs share
    # exactly those 5 with bench doc 100 (doc 3's repetition adds the
    # stitched "dog and again the quick" grams, none of which appear in
    # the benchmark, so its count stays 5)
    assert rows[(1, 100)] == 5
    assert rows[(3, 100)] == 5
    assert set(rows) == {(1, 100), (3, 100)}

    short = train.where(F.col("doc_id") == 4).select(
        token_ngram_expr("text", 5).alias("ng")
    ).first()
    assert short.ng == []


def test_vocab_topk_order_and_ties(spark):
    from marshmallow_spark.operators.text import vocab_topk

    df = spark.createDataFrame(
        [(1, "b a a c b"), (2, "a c d")], "id long, text string"
    )
    out = [(r.token, r.freq) for r in vocab_topk(df, "text", k=3).collect()]
    assert out == [("a", 3), ("b", 2), ("c", 2)]


def test_winnow_containment_catches_pasted_snippet(spark):
    """A short doc pasted verbatim inside a much longer one: Jaccard is
    tiny (the union is the long doc) but containment ~= 1.0 — the
    winnow pair surfaces it; an unrelated doc pair does not."""
    from marshmallow_spark.operators.dedup import ngram_jaccard_pairs
    from marshmallow_spark.operators.text import winnow_containment_pairs

    snippet = "the quick brown fox jumps over the lazy dog again and again"
    filler = " ".join(f"word{i} tok{i*7%13} item{i*3%11}" for i in range(120))
    docs = [
        (1, snippet),
        (2, filler + " " + snippet + " " + filler[::-1]),
        (3, "completely different content about spark shuffles and exchanges"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    pairs = {
        (r.a, r.b): r.containment
        for r in winnow_containment_pairs(
            df, "doc_id", min_shared=2, min_containment=0.8
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.8
    assert all(3 not in p for p in pairs)

    # the same pair is invisible to symmetric Jaccard at any useful cut
    jac = ngram_jaccard_pairs(df, "doc_id", "text", k=3, min_jaccard=0.3)
    assert all((r.a, r.b) != (1, 2) for r in jac.collect())


def test_incremental_dedup_pairs_planted(spark):
    """incremental_dedup_pairs: a near-dup straddling the
    increment/corpus split is found with exact Jaccard counts;
    within-increment duplicates do NOT pair with each other; an
    unrelated corpus doc never appears."""
    from marshmallow_spark.operators.dedup import incremental_dedup_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    inc = spark.createDataFrame(
        [(100, base), (104, base)],  # identical pair INSIDE the increment
        "doc_id long, text string",
    )
    corp = spark.createDataFrame(
        [(1, base + " ok"), (2, "completely unrelated content xyzzy")],
        "doc_id long, text string",
    )
    out = incremental_dedup_pairs(
        inc, corp, "doc_id", "text",
        num_bands=4, rows_per_band=4, k=3, min_jaccard=0.5,
    ).collect()
    got = {(r.new_id, r.corpus_id) for r in out}
    assert got == {(100, 1), (104, 1)}, got
    by = {(r.new_id, r.corpus_id): r for r in out}
    r = by[(100, 1)]
    # shared distinct 3-shingles = all of base's; union adds ' ok' tail
    assert r.inter > 0 and r.uni >= r.inter
    assert r.inter / r.uni >= 0.5


def test_incremental_dedup_reuses_persisted_signature_index(spark, tmp_path):
    """incremental_dedup_pairs(corpus_signatures=...): a signature
    index written to parquet and read back yields exactly the rows the
    in-plan computation yields — the persisted-index production path
    is the same operator, and the index plan never rescans corpus
    text except to verify candidates."""
    from marshmallow_spark.operators.dedup import (
        incremental_dedup_pairs,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    inc = spark.createDataFrame([(100, base)], "doc_id long, text string")
    corp = spark.createDataFrame(
        [(1, base + " ok"), (2, "unrelated xyzzy content entirely")],
        "doc_id long, text string",
    )
    idx_path = str(tmp_path / "sig_index")
    minhash_signatures(corp, "doc_id", "text", num_hashes=16, k=3).write.parquet(idx_path)
    live = incremental_dedup_pairs(
        inc, corp, "doc_id", "text", num_bands=4, rows_per_band=4
    )
    indexed = incremental_dedup_pairs(
        inc, corp, "doc_id", "text", num_bands=4, rows_per_band=4,
        corpus_signatures=spark.read.parquet(idx_path),
    )
    assert sorted(map(tuple, live.collect())) == sorted(
        map(tuple, indexed.collect())
    )
    assert indexed.count() == 1


def test_null_text_docs_yield_no_candidates(spark, monkeypatch):
    """NULL text signs all-NULL, and Spark evaluates array(NULL) =
    array(NULL) as true: unfiltered, every NULL-text doc pairs with
    every other (C(k, 2) candidates) in each LSH mode and in
    incremental dedup. A band holding a NULL hash matches nothing, as
    SQL column equality does, and a NULL doc shares no shingle even
    when handed to verification as a candidate."""
    from marshmallow_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [("a", base), ("b", None), ("c", None), ("d", None), ("e", base)],
        "doc_id string, text string",
    )
    sigs = dedup.minhash_signatures(df, "doc_id", "text", num_hashes=16, k=3)
    for kw in (
        dict(num_bands=1, rows_per_band=4),
        dict(num_bands=4, rows_per_band=4),
        dict(num_bands=4, rows_per_band=4, salt_threshold=1, num_salts=2),
        dict(num_bands=4, rows_per_band=4, mode="star"),
    ):
        got = {
            (r.a, r.b)
            for r in dedup.lsh_banded_pairs(sigs, "doc_id", **kw).collect()
        }
        assert got == {("a", "e")}, (kw, got)

    # incremental: spy on the candidate frame handed to verification
    seen = []
    verify = dedup._verify_candidates

    def spy(cand, *args, **kwargs):
        seen.append(cand)
        return verify(cand, *args, **kwargs)

    monkeypatch.setattr(dedup, "_verify_candidates", spy)
    inc = df.where(F.col("doc_id").isin("b", "e"))
    corp = df.where(~F.col("doc_id").isin("b", "e"))
    out = dedup.incremental_dedup_pairs(inc, corp, "doc_id", "text")
    assert {(r.new_id, r.corpus_id) for r in out.collect()} == {("e", "a")}
    assert {tuple(r) for r in seen[0].collect()} == {("e", "a")}

    nulls = spark.createDataFrame([("b", "c")], "a string, b string")
    verified = dedup.ngram_jaccard_pairs(df, "doc_id", "text", candidates=nulls)
    assert verified.count() == 0


# ---------------------------------------------------------------------------
# span-level duplicate trimming (round-4 verdict item #4)
# ---------------------------------------------------------------------------


def test_trim_contained_spans_removes_exactly_the_pasted_span(spark):
    from marshmallow_spark.operators.text import trim_contained_spans

    short = "the quick brown fox jumps over the lazy dog pack my box"
    container = (
        "alpha beta gamma delta " + short + " epsilon zeta eta theta iota"
    )
    df = spark.createDataFrame(
        [
            (1, short),
            (2, container),
            (3, "totally unrelated content stream vector filter merge hash"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in trim_contained_spans(
            df, "doc_id", min_shared=2, min_containment=0.5
        ).collect()
    }
    assert len(out) == 3  # one row per input row
    # the standalone copy is kept intact; the container loses EXACTLY
    # the pasted characters
    assert out[1].text == short and out[1].n_trimmed_chars == 0
    assert out[3].n_trimmed_chars == 0
    assert out[2].text == container.replace(short, "")
    assert out[2].n_trimmed_chars == len(short)


def test_trim_contained_spans_multiple_spans_and_sources(spark):
    from marshmallow_spark.operators.text import trim_contained_spans

    s1 = "first duplicated passage with enough characters to fingerprint"
    s2 = "second duplicated block also long enough for the rolling window"
    container = "head words " + s1 + " middle filler words " + s2 + " tail"
    df = spark.createDataFrame(
        [(1, s1), (2, s2), (3, container)],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in trim_contained_spans(
            df, "doc_id", min_shared=2, min_containment=0.5
        ).collect()
    }
    want = container.replace(s1, "").replace(s2, "")
    assert out[3].text == want
    assert out[3].n_trimmed_chars == len(s1) + len(s2)
    assert out[1].text == s1 and out[2].text == s2


def test_trim_contained_spans_identical_docs_trim_one_copy(spark):
    """Equal-length pair: the GREATER id is the victim; a full-document
    duplicate trims to empty (whole-doc dedup falls out as the
    degenerate case)."""
    from marshmallow_spark.operators.text import trim_contained_spans

    t = "completely identical documents should leave a single survivor"
    df = spark.createDataFrame(
        [(1, t), (2, t)], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in trim_contained_spans(
            df, "doc_id", min_shared=2, min_containment=0.5
        ).collect()
    }
    assert out[1].text == t and out[1].n_trimmed_chars == 0
    assert out[2].text == "" and out[2].n_trimmed_chars == len(t)


def test_luhn_fold_matches_reference(spark):
    """luhn_valid_expr agrees with a pure-python Luhn over valid,
    invalid, short, and odd-length inputs."""
    from marshmallow_spark.operators.text import luhn_valid_expr

    def ref(s):
        tot = 0
        for i, ch in enumerate(reversed(s)):
            d = int(ch)
            if i % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            tot += d
        return tot % 10 == 0

    vals = [
        "4539578763621486", "1234567812345678", "1234567812345670",
        "79927398713", "79927398710", "0", "59", "18",
    ]
    df = spark.createDataFrame([(v,) for v in vals], "d string")
    got = {
        r.d: r.ok
        for r in df.select("d", luhn_valid_expr(F.col("d")).alias("ok")).collect()
    }
    for v in vals:
        assert got[v] == ref(v), v


def test_ann_search_has_one_keyed_join_scaffold():
    """lsh_topk and ivf_topk share one keyed self-join (_keyed_topk)
    and one top-k window (_rank_topk): similarity.py must hold exactly
    one eager persist, one write_once_parquet and one row_number call,
    so a second copy of the search scaffold cannot grow back."""
    import ast

    from marshmallow_spark.operators import similarity

    with open(similarity.__file__) as f:
        tree = ast.parse(f.read())
    calls = {"persist": 0, "write_once_parquet": 0, "row_number": 0}
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
            if name in calls:
                calls[name] += 1
    assert calls == {"persist": 1, "write_once_parquet": 1, "row_number": 1}, calls
