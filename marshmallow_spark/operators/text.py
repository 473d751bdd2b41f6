"""Text analysis operators for training-data pipelines.

Token statistics, quality scoring, marker-based language ID, and
document fingerprinting — all as single-projection DataFrame plans
(JVM string functions, no UDFs), each SQL-oracle-expressible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Default language marker tokens (frequency-argmax language ID —
#: the classic stopword-marker heuristic; swap markers per corpus).
DEFAULT_MARKERS: dict[str, str] = {"en": "the", "graph": "scan", "stream": "batch"}


def token_stats(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    bpe_merges=None,
) -> DataFrame:
    """(id, n_chars, n_tokens, n_uniq_tokens) — whitespace tokenization.

    ``bpe_merges=`` (a merges table, e.g. ``functions.bpe.
    DEFAULT_MERGES``) appends an ``n_bpe_tokens`` column computed by
    the pure-Catalyst replace-chain tokenizer — tokenizer-accurate
    budgets (round-4 verdict) in the same zero-shuffle projection."""
    toks = F.split(F.col(text_col), " ")
    # long counts: DuckDB oracles emit BIGINT; int32 outputs would make
    # dtype-sensitive cross-engine compares fail on identical values
    cols = [
        F.col(id_col),
        F.length(text_col).cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq_tokens"),
    ]
    if bpe_merges is not None:
        from ..functions.bpe import bpe_token_count_expr

        cols.append(
            bpe_token_count_expr(text_col, bpe_merges).alias("n_bpe_tokens")
        )
    return df.select(*cols)


def quality_score(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    stopwords: tuple[str, ...] = ("the", "and", "of", "to", "a"),
) -> DataFrame:
    """Quality counters: (id, n_tokens, n_punct, n_stopwords,
    n_digit_chars) — integer counts (ratios are a trivial driver-side
    divide; counts keep cross-engine compares exact)."""
    toks = F.split(F.col(text_col), " ")
    sw = F.array(*[F.lit(s) for s in stopwords])
    return df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.regexp_count(F.col(text_col), F.lit(r"[.,!?;:]")).cast("long").alias("n_punct"),
        F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        .cast("long")
        .alias("n_stopwords"),
        F.regexp_count(F.col(text_col), F.lit(r"[0-9]")).cast("long").alias("n_digit_chars"),
    )


def _count_token(text_col: str, token: str) -> Column:
    toks = F.split(F.col(text_col), " ")
    return F.size(F.filter(toks, lambda t: t == F.lit(token)))


def lang_predict(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    markers: dict[str, str] | None = None,
) -> DataFrame:
    """(id, lang_pred): argmax over marker-token counts, 'und' when all
    zero; ties break by marker declaration order."""
    markers = markers or DEFAULT_MARKERS
    counts = {lang: _count_token(text_col, tok) for lang, tok in markers.items()}
    langs = list(markers)
    # priority-argmax CASE chain: first language whose count is maximal
    # and positive wins (identical shape to the SQL oracle's CASE).
    expr = F.lit("und")
    for i in range(len(langs) - 1, -1, -1):
        lang = langs[i]
        cond = counts[lang] > 0
        for other in langs[i + 1 :]:
            cond = cond & (counts[lang] >= counts[other])
        for earlier in langs[:i]:
            cond = cond & (counts[lang] > counts[earlier])
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return df.select(F.col(id_col), expr.alias("lang_pred"))


def fingerprint(
    df: DataFrame, id_col: str, text_col: str = "text", *, normalize: bool = True
) -> DataFrame:
    """(id, fp): md5 content fingerprint (optionally lower+trim
    normalized) — the exact-dedup / caching key."""
    c = F.col(text_col)
    if normalize:
        c = F.lower(F.trim(c))
    return df.select(F.col(id_col), F.md5(c).alias("fp"))


def token_ngram_expr(text_col: str, n: int) -> Column:
    """Array of DISTINCT whitespace-token n-grams (space-rejoined).
    Docs shorter than ``n`` tokens yield an empty array (Spark's
    ``sequence(1, 0)`` would count DOWN, so the guard is explicit)."""
    toks = F.split(F.col(text_col), " ")
    cnt = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), cnt),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.array_distinct(
        F.when(cnt >= 1, grams).otherwise(F.array().cast("array<string>"))
    )


def contamination_pairs(
    train: DataFrame,
    bench: DataFrame,
    train_id: str,
    bench_id: str,
    text_col: str = "text",
    *,
    n: int = 5,
    min_shared: int = 3,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Benchmark decontamination: (train_id, bench_id, shared_ngrams)
    for every train/benchmark document pair sharing at least
    ``min_shared`` distinct token ``n``-grams — the standard n-gram
    overlap check run before training on web-scale corpora (a train
    document that contains an eval question verbatim shares a run of
    its n-grams).

    100 TB shape: the benchmark corpus is tiny (eval suites are KBs-MBs)
    while train is the full corpus, so the benchmark's exploded
    (ngram, bench_id) inverted index is BROADCAST — the train side
    streams through a broadcast hash join with NO shuffle at all until
    the final (train_id, bench_id) count, whose input is already
    match-sized (output-bounded), and the count partial-aggregates
    map-side. Set ``broadcast_bench=False`` only when the benchmark
    side is itself corpus-scale (falls back to a shuffle join on the
    n-gram key).

    Both sides' n-grams are ``array_distinct``-ed before the join, so
    ``shared_ngrams`` counts DISTINCT shared n-grams — a repeated
    phrase inside one document cannot inflate the overlap.
    """
    from .dedup import _spread

    # _spread the corpus-scale side: the n-gram explode + broadcast
    # probe is pure per-row work off the scan (guide §2.5 input skew)
    t = _spread(train.select(F.col(train_id), F.col(text_col))).select(
        F.col(train_id).alias("train_id"),
        F.explode(token_ngram_expr(text_col, n)).alias("_ng"),
    )
    b = bench.select(
        F.col(bench_id).alias("bench_id"),
        F.explode(token_ngram_expr(text_col, n)).alias("_ng"),
    )
    if broadcast_bench:
        b = F.broadcast(b)
    return (
        t.join(b, "_ng")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
        .where(F.col("shared_ngrams") >= min_shared)
    )


def vocab_topk(
    df: DataFrame, text_col: str = "text", *, k: int = 100
) -> DataFrame:
    """(token, freq) — the ``k`` most frequent whitespace tokens,
    ties broken by token ascending (deterministic across engines).
    One explode + one map-side-partial count shuffle; the global
    top-k sort runs over the vocabulary-sized aggregate, not the
    corpus."""
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(k)
    )


def winnow_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    window: int = 16,
    keep_every: int = 8,
    min_shared: int = 2,
    min_containment: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Containment detection over the winnowing sketches: (a, b,
    shared, containment) for document pairs whose DISTINCT rolling-hash
    fingerprints overlap by at least ``min_shared`` hashes AND whose
    containment score shared/min(|A|, |B|) reaches ``min_containment``.

    Containment is the duplication MinHash/Jaccard misses: a short doc
    pasted verbatim inside a long one has tiny Jaccard (union is huge)
    but containment ~1.0. Because hash-value selection (h % keep_every
    == 0) picks the same windows wherever shared content sits (see
    rolling_hash_fingerprints), verbatim runs survive arbitrary
    prefix/suffix differences.

    100 TB shape: one scan projects the distinct-hash posting list,
    ONE exchange on the hash key feeds both self-join sides (aliased
    subtree -> ReusedExchange, plan-audited), the per-pair count
    partial-aggregates map-side, and the candidate volume is bounded by
    posting-list sizes — never all-pairs. ``max_doc_freq`` drops
    ubiquitous hashes (boilerplate) via a window count on the
    already-shuffled frame, exactly q24's live cap."""
    from pyspark.sql import Window

    from .dedup import _parallelism

    fps = rolling_hash_fingerprints(
        df, id_col, text_col, window=window, keep_every=keep_every
    )
    base = (
        fps.select(
            F.col(id_col).alias("_id"),
            F.array_distinct("hashes").alias("_hs"),
        )
        .where(F.size("_hs") > 0)
        .select("_id", F.size("_hs").alias("_n"), F.explode("_hs").alias("h"))
        # explicit partition count: the posting-list self-join FANS OUT,
        # so AQE's size-based coalescing of this small exchange would
        # starve it of parallelism (see dedup._banded_keys)
        .repartition(_parallelism(df) * 2, "h")
    )
    if max_doc_freq is not None:
        base = base.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("h"))
        ).where(F.col("_df") <= max_doc_freq)
    left = base.alias("_wcp_l")
    right = base.alias("_wcp_r")
    lc = lambda name: F.col(f"_wcp_l.{name}")  # noqa: E731
    rc = lambda name: F.col(f"_wcp_r.{name}")  # noqa: E731
    cont = F.col("shared") / F.least(F.col("n_a"), F.col("n_b")).cast("double")
    return (
        left.join(right, lc("h") == rc("h"))
        .where(lc("_id") < rc("_id"))
        .groupBy(
            lc("_id").alias("a"),
            rc("_id").alias("b"),
            lc("_n").alias("n_a"),
            rc("_n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(
            (F.col("shared") >= min_shared)
            & (cont >= F.lit(float(min_containment)))
        )
        .select(
            "a", "b", "shared", F.round(cont, 9).alias("containment")
        )
    )


def _window_hashes_expr(text_col: str, window: int) -> Column:
    """Array of rolling-window hashes at EVERY position (the
    full-resolution companion of rolling_hash_fingerprints' sparse
    selection): element i-1 hashes substring(text, i, window)."""
    return F.expr(
        f"transform(sequence(1, greatest(length({text_col}) - {window - 1}, 1)), "
        f"i -> cast(conv(substring(md5(substring({text_col}, i, {window})), 1, 8), 16, 10) as bigint))"
    )


def trim_contained_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    window: int = 16,
    keep_every: int = 8,
    min_shared: int = 2,
    min_containment: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Span-level duplicate REMOVAL (round-4 verdict item #4 — the
    RefinedWeb/CCNet substring-dedup step): detect containment pairs
    with the sparse winnowing sketch, then cut the duplicated character
    runs out of the CONTAINER document (the longer side; ties break to
    the greater id) so exactly one copy of the pasted content survives
    — the standalone contained doc is kept intact.

    Output: one row per input row — (id, text, n_trimmed_chars), text
    rebuilt with every duplicated span removed (untouched docs pass
    through with 0).

    Char-exactness: detection uses the sparse sketch (cheap,
    corpus-wide), but trimming re-hashes EVERY window position of the
    candidate docs only — inside a verbatim run of length >= window
    every window matches, so the union of [p, p+window-1] intervals
    reconstructs the pasted span to the character. Matched positions
    are merged gaps-and-islands style (new island when p > prev_p +
    window) by one ``aggregate`` fold over the sorted position array;
    the text rebuild is a second fold concatenating the unmatched
    segments. Everything is built-in higher-order expressions — zero
    Python, zero UDFs.

    One-pass semantics: all trims are computed against ORIGINAL texts
    (a doc can be both victim and source in the same pass; chains are
    not re-evaluated iteratively).

    100 TB shape: the corpus-wide work is exactly
    :func:`winnow_containment_pairs` (one exchange, ReusedExchange
    self-join); the full-resolution explode + hash join is confined to
    the detected candidate pairs, so its volume is bounded by
    (pairs x doc length), never the corpus. Per-victim position arrays
    are doc-length-bounded (the same bound as holding the document
    string itself)."""
    pairs = winnow_containment_pairs(
        df,
        id_col,
        text_col,
        window=window,
        keep_every=keep_every,
        min_shared=min_shared,
        min_containment=min_containment,
        max_doc_freq=max_doc_freq,
    )
    texts = df.select(
        F.col(id_col).alias("_pid"),
        F.col(text_col).alias("_ptext"),
        F.length(text_col).alias("_plen"),
    )
    withab = (
        pairs.join(
            texts.select(
                F.col("_pid").alias("a"),
                F.col("_ptext").alias("_ta"),
                F.col("_plen").alias("_la"),
            ),
            "a",
        ).join(
            texts.select(
                F.col("_pid").alias("b"),
                F.col("_ptext").alias("_tb"),
                F.col("_plen").alias("_lb"),
            ),
            "b",
        )
    )
    vic_is_a = (F.col("_la") > F.col("_lb")) | (
        (F.col("_la") == F.col("_lb")) & (F.col("a") > F.col("b"))
    )
    directed = withab.select(
        F.when(vic_is_a, F.col("a")).otherwise(F.col("b")).alias("_vid"),
        F.when(vic_is_a, F.col("_ta")).otherwise(F.col("_tb")).alias("_vtext"),
        F.when(vic_is_a, F.col("_tb")).otherwise(F.col("_ta")).alias("_stext"),
    )
    src_h = directed.select(
        "_vid", F.explode(_window_hashes_expr("_stext", window)).alias("h")
    ).distinct()
    vic = directed.select("_vid", "_vtext").distinct()
    vpos = vic.select(
        "_vid",
        "_vtext",
        F.posexplode(_window_hashes_expr("_vtext", window)).alias("_p0", "h"),
    ).select("_vid", "_vtext", (F.col("_p0") + 1).cast("long").alias("p"), "h")
    matched = (
        vpos.join(src_h, ["_vid", "h"])
        .groupBy("_vid", "_vtext")
        .agg(F.array_sort(F.collect_set("p")).alias("_ps"))
    )

    w1 = window - 1
    iv_t = "array<struct<s:bigint,e:bigint>>"
    state0 = F.struct(
        F.expr(f"cast(array() as {iv_t})").alias("ivs"),
        F.lit(None).cast("long").alias("s"),
        F.lit(None).cast("long").alias("e"),
    )

    def _merge_step(acc: Column, p: Column) -> Column:
        pl = p.cast("long")
        fresh = acc["s"].isNull()
        extend = (~fresh) & (pl <= acc["e"] + 1)
        closed = F.concat(
            acc["ivs"],
            F.array(F.struct(acc["s"].alias("s"), acc["e"].alias("e"))),
        )
        return F.struct(
            F.when(fresh | extend, acc["ivs"]).otherwise(closed).alias("ivs"),
            F.when(extend, acc["s"]).otherwise(pl).alias("s"),
            (pl + F.lit(w1)).cast("long").alias("e"),
        )

    def _merge_final(acc: Column) -> Column:
        return F.when(acc["s"].isNull(), acc["ivs"]).otherwise(
            F.concat(
                acc["ivs"],
                F.array(F.struct(acc["s"].alias("s"), acc["e"].alias("e"))),
            )
        )

    spans = matched.select(
        "_vid",
        "_vtext",
        F.aggregate(F.col("_ps"), state0, _merge_step, _merge_final).alias(
            "_ivs"
        ),
    )

    reb0 = F.struct(F.lit("").alias("out"), F.lit(1).cast("long").alias("cur"))

    def _reb_step(acc: Column, iv: Column) -> Column:
        seg = F.substring(
            F.col("_vtext"),
            acc["cur"].cast("int"),
            (iv["s"] - acc["cur"]).cast("int"),
        )
        return F.struct(
            F.concat(acc["out"], seg).alias("out"),
            (iv["e"] + 1).cast("long").alias("cur"),
        )

    def _reb_final(acc: Column) -> Column:
        return F.concat(
            acc["out"],
            F.substring(
                F.col("_vtext"), acc["cur"].cast("int"), F.length("_vtext")
            ),
        )

    trims = spans.select(
        "_vid",
        F.aggregate(F.col("_ivs"), reb0, _reb_step, _reb_final).alias(
            "_new_text"
        ),
        F.aggregate(
            F.col("_ivs"),
            F.lit(0).cast("long"),
            lambda acc, iv: acc + (iv["e"] - iv["s"] + F.lit(1)),
        ).alias("n_trimmed_chars"),
    )
    return (
        df.select(id_col, text_col)
        .join(trims, F.col(id_col) == F.col("_vid"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_new_text"), F.col(text_col)).alias(text_col),
            F.coalesce(F.col("n_trimmed_chars"), F.lit(0).cast("long")).alias(
                "n_trimmed_chars"
            ),
        )
    )


def _top_run_fold(arr: Column) -> Column:
    """struct(best_tok, best): the most frequent element of ``arr``
    and its count, ties broken by element ascending — computed as the
    longest equal-run in the SORTED array via one ``aggregate`` fold.

    O(n log n) per row, pure projection, ZERO shuffles: the
    explode + groupBy + window alternative shuffles the corpus twice
    on (doc, token) — at 10^12 docs that is the difference between a
    scan and two corpus-wide exchanges. Empty arrays yield
    (NULL, 0)."""
    state0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
        F.lit(None).cast("string").alias("best_tok"),
    )

    def step(acc: Column, t: Column) -> Column:
        run = (
            F.when(acc["prev"].isNotNull() & (t == acc["prev"]), acc["run"] + 1)
            .otherwise(F.lit(1))
            .cast("long")
        )
        improved = run > acc["best"]
        return F.struct(
            t.alias("prev"),
            run.alias("run"),
            F.when(improved, run).otherwise(acc["best"]).alias("best"),
            F.when(improved, t).otherwise(acc["best_tok"]).alias("best_tok"),
        )

    done = F.aggregate(F.sort_array(arr), state0, step)
    return F.struct(done["best_tok"].alias("best_tok"), done["best"].alias("best"))


def repetition_signals(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document repetition counters: (id, n_tokens,
    n_uniq_tokens, top_token, top_token_count, top_bigram,
    top_bigram_count). High top-token / top-bigram shares flag the
    degenerate repeated-phrase pages every web-scale quality filter
    drops (Rae et al. 2021 §A1.1's "repetition removal" signals).

    Duplicate-token fraction = 1 - n_uniq_tokens/n_tokens; top-n-gram
    fraction = top_*_count/n_tokens — exact integer counts are emitted
    (ratios are a trivial divide) so cross-engine compares stay exact.
    Single projection, no explode, no shuffle: the mode-of-array is a
    sorted-run fold (see _top_run_fold)."""
    toks = F.split(F.col(text_col), " ")
    ngram_cnt = F.size(toks) - F.lit(1)
    bigrams = F.when(
        ngram_cnt >= 1,
        F.transform(
            F.sequence(F.lit(1), ngram_cnt),
            lambda i: F.array_join(F.slice(toks, i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    top_tok = _top_run_fold(toks)
    top_bg = _top_run_fold(bigrams)
    return df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq_tokens"),
        top_tok["best_tok"].alias("top_token"),
        top_tok["best"].alias("top_token_count"),
        top_bg["best_tok"].alias("top_bigram"),
        top_bg["best"].alias("top_bigram_count"),
    )


def rolling_hash_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    window: int = 16,
    keep_every: int = 8,
) -> DataFrame:
    """(id, hashes): content-defined rolling-window substring hashes —
    the winnowing-style document sketch for containment detection.

    Selection is mod-on-the-hash (keep windows whose hash % keep_every
    == 0), NOT mod-on-the-position: position sampling breaks as soon as
    one document carries a prefix the other lacks (every window shifts,
    zero overlap), while hash-value selection picks the same windows
    wherever the shared content sits. One projection, JVM-side only."""
    from .dedup import _spread

    # _spread: one md5 per window POSITION is the heaviest per-row
    # projection in the text family — an under-partitioned scan would
    # run it in a single task (guide §2.5 input skew; no-op when the
    # scan already has >= defaultParallelism partitions)
    return _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.filter(
            _window_hashes_expr(text_col, window), lambda h: h % keep_every == 0
        ).alias("hashes"),
    )


def tfidf_topk(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    k: int = 3,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document: (id, term, tf, score) with
    score = tf * (ln((N+1)/(df+1)) + 1), rounded to 6dp BEFORE ranking
    so cross-engine float low bits cannot flip rank order; rank ties
    broken by term ascending (deterministic across engines).

    100 TB shape: the token explode repartitions on the DOC key once —
    HashPartitioning(id) satisfies both the (id, term) groupBy's
    clustering and the per-doc ranking window, so the corpus-sized side
    is ONE exchange end-to-end (the tf subtree is referenced twice and
    comes back as a ReusedExchange). Document frequency and N reduce to
    a vocabulary-sized term dictionary that BROADCASTS back; the corpus
    is never globally sorted and never joined to itself."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    tf = (
        toks.repartition(F.col(id_col))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndocs = df.select(F.countDistinct(id_col).alias("n_docs"))
    idf = docfreq.crossJoin(F.broadcast(ndocs)).select(
        "term",
        (
            F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
            + F.lit(1.0)
        ).alias("idf"),
    )
    scored = tf.join(F.broadcast(idf), "term").select(
        F.col(id_col),
        "term",
        "tf",
        F.round(F.col("tf") * F.col("idf"), 6).alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(id_col, "term", "tf", "score")
    )


def unigram_logprob(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """(id, n_tokens, logprob): per-document MEAN unigram
    log-probability under the corpus's own unigram distribution — the
    CCNet/Gopher-style perplexity proxy (a cheap LM stand-in: docs of
    corpus-typical words score high, rare-token salads score low).
    logprob rounded to 6dp (both engines sum ~1e-15-relative-error
    doubles; the rounding absorbs summation-order skew).

    100 TB shape: term frequencies partial-aggregate to a
    vocabulary-sized table (map-side combine, then a vocab-row
    exchange) that BROADCASTS back onto the token stream; the corpus
    total is folded from the vocab table, NOT a third corpus scan; the
    per-doc mean partial-aggregates map-side so the only corpus-keyed
    exchange carries (sum, count) pairs per doc, not tokens."""
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    freqs = toks.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    total = freqs.agg(F.sum("freq").alias("total"))
    lp = freqs.crossJoin(F.broadcast(total)).select(
        "term", F.log(F.col("freq") / F.col("total")).alias("lp")
    )
    return (
        toks.join(F.broadcast(lp), "term")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("lp"), 6).alias("logprob"),
        )
    )


#: Default PII patterns — deliberately conservative, same dialect
#: subset (char classes, bounded quantifiers, \b) in Java regex and
#: RE2 so engine and oracle agree byte-for-byte.
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    "phone": r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
}

#: Checksum-validated patterns: a regex proposes candidates, a Luhn
#: fold confirms them (16-digit card numbers by default).
PII_LUHN_PATTERNS: dict[str, str] = {
    "card16": r"\b[0-9]{16}\b",
}


def luhn_valid_expr(digits: Column) -> Column:
    """Luhn checksum over a digit string as ONE ``aggregate`` fold —
    pure codegen, works for any length: walking from the rightmost
    digit, every second digit doubles (minus 9 when it overflows) and
    the total must divide by 10."""
    n = F.length(digits)
    total = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            i % 2 == 0,
            # i-th from the right is doubled
            F.when(
                (F.ascii(F.substring(digits, (n - i + 1).cast("int"), 1)) - 48) > 4,
                (F.ascii(F.substring(digits, (n - i + 1).cast("int"), 1)) - 48) * 2 - 9,
            ).otherwise(
                (F.ascii(F.substring(digits, (n - i + 1).cast("int"), 1)) - 48) * 2
            ),
        ).otherwise(
            F.ascii(F.substring(digits, (n - i + 1).cast("int"), 1)) - 48
        ),
    )
    return (total % 10 == 0) & (n > 0)


def pii_scan(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    patterns: dict[str, str] = PII_PATTERNS,
    luhn_patterns: dict[str, str] | None = None,
) -> DataFrame:
    """(id, n_<kind>..., has_pii): per-document PII match counts for
    each named pattern — the redaction-pipeline detection pass.
    Zero-shuffle single projection; all regexes evaluate JVM-side in
    one codegen'd stage (no UDF). NULL text counts 0 for every kind.

    ``luhn_patterns`` (e.g. ``PII_LUHN_PATTERNS``) adds
    checksum-validated kinds: the regex proposes digit-run candidates
    and the :func:`luhn_valid_expr` fold confirms them — emitted as
    ``n_<kind>`` (valid) and ``n_<kind>_invalid`` (candidates that
    failed the checksum; excluded from ``has_pii``), still zero UDFs."""
    counts = [
        F.coalesce(
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(p), F.lit(0))),
            F.lit(0),
        ).alias(f"n_{name}")
        for name, p in patterns.items()
    ]
    luhn_patterns = luhn_patterns or {}
    for name, p in luhn_patterns.items():
        cands = F.regexp_extract_all(F.col(text_col), F.lit(p), F.lit(0))
        valid = F.filter(cands, luhn_valid_expr)
        counts.append(
            F.coalesce(F.size(valid), F.lit(0)).alias(f"n_{name}")
        )
        counts.append(
            F.coalesce(F.size(cands) - F.size(valid), F.lit(0)).alias(
                f"n_{name}_invalid"
            )
        )
    out = df.select(F.col(id_col), *counts)
    has = None
    for name in list(patterns) + list(luhn_patterns):
        c = F.col(f"n_{name}") > 0
        has = c if has is None else (has | c)
    return out.withColumn("has_pii", has)


def pii_redact(
    df: DataFrame,
    text_col: str = "text",
    *,
    patterns: dict[str, str] = PII_PATTERNS,
    replacement: str = "[PII]",
    out_col: str | None = None,
) -> DataFrame:
    """Replace every PII match with ``replacement`` (all patterns, all
    occurrences — Spark's regexp_replace is global). Zero-shuffle
    projection; chain order is the dict order (matters only if one
    pattern can match inside another's replacement, which the bracket
    token prevents)."""
    col = F.col(text_col)
    for p in patterns.values():
        col = F.regexp_replace(col, p, replacement)
    return df.withColumn(out_col or text_col, col)


def normalize_text_expr(text_col: str) -> Column:
    """Canonical text form: lowercase, every non-alphanumeric run
    (punctuation AND whitespace) collapsed to one space, trimmed.
    The pre-dedup normalization that merges trivial variants (case,
    spacing, punctuation) into one exact-dup group. Pure codegen
    expression — compose into any projection."""
    return F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    )


def normalized_dup_groups(
    df: DataFrame, text_col: str = "text", *, min_count: int = 2
) -> DataFrame:
    """(text_norm, n): exact-duplicate groups AFTER normalization —
    catches the case/spacing/punctuation variants raw exact dedup
    misses. One partial-agg count shuffle on the normalized form (at
    scale, group on md5(text_norm) and keep an exemplar via min —
    this variant carries the normalized text for inspection)."""
    return (
        df.select(normalize_text_expr(text_col).alias("text_norm"))
        .groupBy("text_norm")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """(id, chunk_index, n_chunk_tokens, chunk_text): overlapping
    token-window chunks — the pretraining/RAG chunker. Stride =
    chunk_tokens - overlap; every doc yields ceil((n - overlap) /
    stride) chunks (min 1), the last chunk keeps the tail and may be
    short; consecutive chunks share ``overlap`` tokens so no context
    is lost at a boundary.

    Zero-shuffle single projection: the chunk list is built inside one
    higher-order transform over the token array and exploded — no
    self-join, no window. Output volume is input x (1/stride) rows;
    at corpus scale the chunker is scan-bound, exactly what you want."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(float(stride))).cast("long"),
        F.lit(1).cast("long"),
    )
    chunks = F.transform(
        F.sequence(F.lit(0).cast("long"), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_index"),
            F.least(F.lit(chunk_tokens).cast("long"), n - i * stride).alias(
                "n_chunk_tokens"
            ),
            F.array_join(
                F.slice(toks, (i * stride + 1).cast("int"), chunk_tokens), " "
            ).alias("chunk_text"),
        ),
    )
    return df.select(F.col(id_col), F.explode(chunks).alias("_c")).select(
        id_col, "_c.chunk_index", "_c.n_chunk_tokens", "_c.chunk_text"
    )


def token_pmi_topk(
    df: DataFrame,
    text_col: str = "text",
    *,
    k: int = 50,
    min_pair_docs: int = 5,
) -> DataFrame:
    """(a, b, df_ab, pmi): top-``k`` token pairs by document-level
    pointwise mutual information — pmi = ln(df_ab * N / (df_a * df_b))
    over doc frequencies (collocation / topic-structure mining; high
    PMI = tokens that co-occur far above chance). Rounded to 6dp
    BEFORE the top-k sort; ties broken by (a, b) — a total order, so
    the k-cut is deterministic across engines.

    100 TB shape: pairs are generated per-doc from the SORTED DISTINCT
    token array (one nested transform, no self-join of the corpus) and
    partial-aggregate map-side into the vocab²-bounded pair table; the
    unigram table and N broadcast back onto it. Per-doc pair volume is
    C(distinct tokens, 2) — on natural-language corpora cap the doc
    vocabulary first (top-V corpus tokens or a min-df filter) before
    calling, exactly as every PMI pipeline does."""
    arr = F.array_sort(F.array_distinct(F.split(F.col(text_col), " ")))
    pairs = F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pair_df = (
        df.select(F.explode(pairs).alias("_p"))
        .select("_p.a", "_p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("df_ab"))
        .where(F.col("df_ab") >= min_pair_docs)
    )
    uni = (
        df.select(F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df_tok"))
    )
    ndocs = df.select(F.count(F.lit(1)).alias("n_docs"))
    ua = uni.select(F.col("tok").alias("a"), F.col("df_tok").alias("df_a"))
    ub = uni.select(F.col("tok").alias("b"), F.col("df_tok").alias("df_b"))
    return (
        pair_df.join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "a",
            "b",
            "df_ab",
            F.round(
                F.log(
                    F.col("df_ab")
                    * F.col("n_docs")
                    / (F.col("df_a") * F.col("df_b")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("a"), F.asc("b"))
        .limit(k)
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    *,
    query_terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    dl_expr: Column | None = None,
) -> DataFrame:
    """(id, bm25): top-``k`` documents for a fixed query by BM25
    (Lucene idf flavor: ln((N - df + 0.5)/(df + 0.5) + 1)) — the
    classic retrieval scorer.

    Because the query is a FIXED small term list, there is no explode
    and no (doc, term) shuffle at all: each term's tf is a conditional
    count inside one projection (dl alongside), the corpus statistics
    (N, avgdl, per-term df) reduce to ONE row that broadcasts back,
    and the score is a closed-form expression over the projected
    columns. Top-k sorts the matching docs only (non-matching docs are
    filtered before the sort). Score rounded to 6dp BEFORE ranking,
    ties broken by id — a total order, so the k-cut is deterministic
    across engines.

    ``dl_expr=`` overrides the document-length norm (default:
    whitespace token count) — pass ``functions.bpe.
    bpe_token_count_expr(text_col)`` for tokenizer-accurate length
    normalization; still a single projection, zero extra shuffles."""
    toks = F.split(F.col(text_col), " ")
    proj = df.select(
        F.col(id_col),
        (F.size(toks) if dl_expr is None else dl_expr).alias("dl"),
        # NB: plain one-arg lambda — a second (defaulted) parameter
        # would make F.filter treat it as the (element, index) form;
        # F.filter invokes the lambda eagerly, so per-iteration capture
        # of q is safe without the default-arg idiom
        *[
            F.size(F.filter(toks, lambda t: t == F.lit(q))).alias(f"tf_{i}")
            for i, q in enumerate(query_terms)
        ],
    )
    stats = proj.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = proj.crossJoin(F.broadcast(stats))
    score = None
    any_tf = None
    for i in range(len(query_terms)):
        tf = F.col(f"tf_{i}")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
            + F.lit(1.0)
        )
        s = idf * (tf * F.lit(k1 + 1.0)) / (
            tf
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
        score = s if score is None else score + s
        any_tf = tf if any_tf is None else any_tf + tf
    return (
        scored.where(any_tf > 0)
        .select(F.col(id_col), F.round(score, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )
