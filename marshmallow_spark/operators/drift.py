"""Distribution-drift checks: two-sample KS and PSI over sketches (A5).

The reference has no distribution checks; this lifts Range/OneOf
(/root/reference/src/marshmallow/validate.py:283, :566) from per-row
bounds to whole-distribution comparisons, per the north_star's axes A+B
extension.

Scale notes:
- ``quantile_sketch`` uses ``approx_percentile`` (Greenwald-Khanna
  style sketch): one pass, constant memory per column, mergeable across
  partitions — the only sane way to summarize 10^12 values. The final
  KS/PSI arithmetic runs driver-side on ~100 numbers.
- ``histogram_counts`` uses *fixed* bins so the bin counts are exact
  integers computed by a plain groupBy — SQL-oracle checkable, and PSI
  from two such histograms is deterministic.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bin(column: str, lo: float, hi: float, nbins: int) -> Column:
    """Clamped int fixed-bin index of ``column`` over [lo, hi): values
    outside the range land in the edge bins."""
    width = (float(hi) - float(lo)) / nbins
    b = F.floor((F.col(column).cast("double") - F.lit(float(lo))) / F.lit(width))
    return F.least(F.greatest(b, F.lit(0)), F.lit(nbins - 1)).cast("int")


def _two_sample_counts(df: DataFrame, keys: list, group_col) -> DataFrame:
    """``groupBy(*keys)`` with (c0, c1) = the row counts of the
    ``group_col == 0`` and ``group_col == 1`` populations; rows whose
    group is NULL or any other value count in neither."""
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    return df.groupBy(*keys).agg(
        F.sum(F.when(g == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(g == 1, 1).otherwise(0)).alias("c1"),
    )


def _chi2_term(c0: Column, c1: Column, t0: Column, t1: Column) -> Column:
    """One category's chi-square homogeneity contribution: sum over its
    two cells of (observed - expected)^2 / expected, expected = row
    total x column total / grand total."""
    rowtot = c0 + c1
    grand = t0 + t1
    e0 = rowtot * t0 / grand
    e1 = rowtot * t1 / grand
    return (c0 - e0) ** 2 / e0 + (c1 - e1) ** 2 / e1


def _divergence_measures(epsilon: float, round_digits: int) -> list[Column]:
    """The (psi, chi2, dof, jsd) aggregates over rows of per-bin counts
    (c0, c1) carrying their population totals (t0, t1). PSI clamps
    empty-bin probabilities to ``epsilon``; JSD needs no clamp (a bin
    empty on one side contributes only through the mixture m, with
    0 * ln 0 = 0); chi2 runs over the observed bins (dof = bins - 1)."""
    c0, c1, t0, t1 = (F.col(c) for c in ("c0", "c1", "t0", "t1"))
    p_raw, q_raw = c0 / t0, c1 / t1
    p = F.greatest(p_raw, F.lit(epsilon))
    q = F.greatest(q_raw, F.lit(epsilon))
    m = (p_raw + q_raw) / 2
    kl_p = F.when(p_raw > 0, p_raw * F.log(p_raw / m)).otherwise(F.lit(0.0))
    kl_q = F.when(q_raw > 0, q_raw * F.log(q_raw / m)).otherwise(F.lit(0.0))
    return [
        F.round(F.sum((p - q) * F.log(p / q)), round_digits).alias("psi"),
        F.round(F.sum(_chi2_term(c0, c1, t0, t1)), round_digits).alias("chi2"),
        (F.count(F.lit(1)) - 1).cast("int").alias("dof"),
        F.round(F.sum((kl_p + kl_q) / 2), round_digits).alias("jsd"),
    ]


def quantile_sketch(
    df: DataFrame, column: str, probs: list[float] | None = None, accuracy: int = 10000
) -> list[float]:
    """Approximate quantiles at ``probs`` (default percentiles 0..100)."""
    probs = probs or [i / 100 for i in range(101)]
    row = df.agg(
        F.percentile_approx(F.col(column).cast("double"), probs, accuracy).alias("q")
    ).first()
    return list(row.q)


def ks_statistic(sketch_a: list[float], sketch_b: list[float]) -> float:
    """Two-sample KS distance from two equal-prob quantile sketches:
    max CDF gap evaluated on the union of the quantile points."""
    if len(sketch_a) != len(sketch_b):
        raise ValueError("sketches must share prob grid")
    n = len(sketch_a) - 1

    def cdf(sketch: list[float], x: float) -> float:
        # fraction of probability mass at or below x (linear in sketch)
        if x < sketch[0]:
            return 0.0
        if x >= sketch[-1]:
            return 1.0
        lo, hi = 0, len(sketch) - 1
        while lo + 1 < hi:
            mid = (lo + hi) // 2
            if sketch[mid] <= x:
                lo = mid
            else:
                hi = mid
        p0, p1 = lo / n, hi / n
        v0, v1 = sketch[lo], sketch[hi]
        if v1 == v0:
            return p1
        return p0 + (p1 - p0) * (x - v0) / (v1 - v0)

    points = sorted(set(sketch_a) | set(sketch_b))
    return max(abs(cdf(sketch_a, x) - cdf(sketch_b, x)) for x in points)


def histogram_counts(
    df: DataFrame, column: str, lo: float, hi: float, nbins: int
) -> DataFrame:
    """Exact fixed-bin histogram: (bin, n). Values outside [lo, hi)
    clamp into the edge bins. One groupBy — partial aggregation makes
    the shuffle O(nbins) per partition."""
    return (
        df.where(F.col(column).isNotNull())
        .groupBy(_bin(column, lo, hi, nbins).alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def psi(
    counts_expected: dict[int, int],
    counts_actual: dict[int, int],
    nbins: int,
    *,
    epsilon: float = 1e-6,
) -> float:
    """Population Stability Index over aligned fixed bins:
    sum((p - q) * ln(p / q)) with epsilon-smoothing for empty bins."""
    ne = sum(counts_expected.values()) or 1
    na = sum(counts_actual.values()) or 1
    total = 0.0
    for i in range(nbins):
        p = max(counts_expected.get(i, 0) / ne, epsilon)
        q = max(counts_actual.get(i, 0) / na, epsilon)
        total += (p - q) * math.log(p / q)
    return total


def psi_df(
    df: DataFrame,
    column: str,
    group_col,
    lo: float,
    hi: float,
    nbins: int = 20,
    *,
    epsilon: float = 1e-6,
) -> DataFrame:
    """Fully-distributed PSI between the ``group_col==0`` (expected)
    and ``group_col==1`` (actual) populations of ``column``: the
    ``psi`` column of :func:`divergence_report` (column pruning drops
    the other aggregates), so no driver-side collect and it composes
    into larger plans. Result: one row (psi double, rounded to 6dp for
    cross-engine determinism).

    Matches ``psi()`` exactly: bins empty on one side clamp to
    ``epsilon``; bins empty on both sides contribute 0."""
    return divergence_report(
        df, column, group_col, lo, hi, nbins, epsilon=epsilon
    ).select("psi")


def ks_exact_df(
    df: DataFrame,
    column: str,
    group_col,
    *,
    num_buckets: int = 64,
    round_digits: int = 6,
    persist: bool = True,
) -> DataFrame:
    """Fully-distributed EXACT two-sample KS between the
    ``group_col==0`` and ``group_col==1`` populations of ``column`` —
    the 10^12-row version of q28's formulation, which funnels every
    distinct value through ONE executor via a global-sort window
    (``Window.orderBy`` with no partitionBy). Result: one row
    (ks double, rounded for cross-engine determinism).

    The global cumulative sums decompose over VALUE-RANGE buckets:

    1. one groupBy(v) builds exact per-distinct-value counts for both
       populations (partial aggregation — the shuffle carries one row
       per distinct value per map partition);
    2. ~``num_buckets`` range boundaries come from an approx-quantile
       sketch over the distinct values (a tiny driver-side literal
       list, like the IVF codebook: it only steers PARTITIONING —
       skewed or collapsed boundaries cost balance, never
       correctness);
    3. running sums within each bucket use a Window partitioned BY
       BUCKET (each window partition holds ~1/num_buckets of the
       distinct values, never all of them);
    4. per-bucket totals cumsum into bucket OFFSETS on a
       num_buckets-row frame (the only single-partition window in the
       plan — over ~num_buckets rows);
    5. offsets broadcast back; global CDF = offset + running sum, and
       KS = max |F0 - F1| over all distinct values (evaluating at the
       jump points is exact for step CDFs).

    With ``persist=True`` (default) the distinct-value frame is cached
    so the boundary sketch and the main pass share one source scan,
    and the 1-row result is localCheckpoint-materialized so the cache
    can be released before returning. ``persist=False`` returns the
    fully-lazy plan (for composition and plan audits) at the cost of
    re-deriving the groupBy for the boundary job."""
    joined, agg = _bucketed_cdf_frame(
        df, column, group_col, num_buckets=num_buckets, persist=persist
    )
    out = joined.agg(
        F.round(F.max(F.abs(F.col("f0") - F.col("f1"))), round_digits).alias("ks")
    )
    if persist:
        out = out.localCheckpoint(eager=True)
        agg.unpersist()
    return out


def _bucketed_cdf_frame(
    df: DataFrame,
    column: str,
    group_col,
    *,
    num_buckets: int,
    persist: bool,
):
    """The shared distributed-CDF core of ks_exact_df /
    wasserstein1_df: one row per distinct value of ``column`` with
    (bucket, v, f0, f1) — both populations' exact global CDFs
    evaluated at the jump points, built with per-range-bucket windows
    (steps 1-5 of ks_exact_df's docstring). Returns (frame, agg_handle)
    so the caller controls the cache lifecycle."""
    from pyspark.sql import Window

    vc = F.col(column).cast("double")
    agg = _two_sample_counts(df.where(vc.isNotNull()), [vc.alias("v")], group_col)
    if persist:
        agg = agg.persist()
    nb = max(int(num_buckets), 1)
    bounds: list[float] = []
    if nb > 1:
        probs = [i / nb for i in range(1, nb)]
        row = agg.agg(F.percentile_approx("v", probs, 10000).alias("q")).first()
        bounds = sorted({b for b in (row.q or []) if b is not None})
    if bounds:
        bexpr = sum(
            (F.when(F.col("v") >= F.lit(b), 1).otherwise(0) for b in bounds),
            F.lit(0),
        )
    else:
        bexpr = F.lit(0)
    keyed = agg.withColumn("bucket", bexpr.cast("int"))
    wrun = (
        Window.partitionBy("bucket")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = keyed.select(
        "bucket",
        "v",
        F.sum("c0").over(wrun).alias("r0"),
        F.sum("c1").over(wrun).alias("r1"),
    )
    # per-bucket totals come straight from the counts — NOT from the
    # windowed running sums — so the tiny offset/total branches never
    # re-sort the distinct-value frame; the partial agg shuffles ~one
    # row per bucket per map partition
    btot = keyed.groupBy("bucket").agg(
        F.sum("c0").alias("b0"), F.sum("c1").alias("b1")
    )
    woff = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    off = btot.select(
        "bucket",
        F.coalesce(F.sum("b0").over(woff), F.lit(0)).alias("o0"),
        F.coalesce(F.sum("b1").over(woff), F.lit(0)).alias("o1"),
    )
    tot = btot.agg(F.sum("b0").alias("n0"), F.sum("b1").alias("n1"))
    joined = run.join(F.broadcast(off), "bucket").crossJoin(F.broadcast(tot))
    f0 = ((F.col("o0") + F.col("r0")) / F.col("n0")).alias("f0")
    f1 = ((F.col("o1") + F.col("r1")) / F.col("n1")).alias("f1")
    return joined.select("bucket", "v", f0, f1), agg


def wasserstein1_df(
    df: DataFrame,
    column: str,
    group_col,
    *,
    num_buckets: int = 64,
    round_digits: int = 6,
    persist: bool = True,
) -> DataFrame:
    """Fully-distributed EXACT 1-Wasserstein (earth mover) distance
    between the ``group_col==0`` and ``group_col==1`` populations of
    ``column``: one row (w1 double).

    For 1-D empirical distributions W1 = integral |F0(x) - F1(x)| dx,
    which over step CDFs is the finite sum of |F0(v_i) - F1(v_i)| *
    (v_{i+1} - v_i) across sorted distinct values. Where KS takes the
    MAX CDF gap (drift localized at one point), W1 integrates the gap
    in the units of the measured column — a mean-shift of d reports
    ~d — and is the standard drift measure when magnitude matters.

    Same scale shape as ks_exact_df (shared _bucketed_cdf_frame: no
    global sort; per-range-bucket windows + a num_buckets-row offset
    cumsum). The one extra piece is the successor gap v_{i+1} - v_i:
    lead(v) within each bucket window, and for each bucket's LAST
    value the next bucket's minimum — a num_buckets-row frame joined
    back by broadcast (empty buckets skip naturally: the lead runs
    over the frame of non-empty buckets). The globally-last value has
    no successor and contributes zero.
    """
    from pyspark.sql import Window

    frame, agg = _bucketed_cdf_frame(
        df, column, group_col, num_buckets=num_buckets, persist=persist
    )
    wlead = Window.partitionBy("bucket").orderBy("v")
    stepped = frame.withColumn("nv", F.lead("v").over(wlead))
    # next non-empty bucket's first value, for each bucket's last row
    bfirst = frame.groupBy("bucket").agg(F.min("v").alias("bv"))
    wb = Window.orderBy("bucket")  # <= num_buckets rows
    nxt = bfirst.select(
        "bucket", F.lead("bv").over(wb).alias("next_first")
    )
    gapped = stepped.join(F.broadcast(nxt), "bucket", "left").select(
        (F.coalesce(F.col("nv"), F.col("next_first")) - F.col("v")).alias("gap"),
        F.abs(F.col("f0") - F.col("f1")).alias("d"),
    )
    out = gapped.agg(
        F.round(
            F.sum(F.when(F.col("gap").isNotNull(), F.col("d") * F.col("gap")).otherwise(0.0)),
            round_digits,
        ).alias("w1")
    )
    if persist:
        out = out.localCheckpoint(eager=True)
        agg.unpersist()
    return out


def psi_between(
    df_expected: DataFrame,
    df_actual: DataFrame,
    column: str,
    lo: float,
    hi: float,
    nbins: int = 20,
) -> float:
    """End-to-end PSI between two snapshots of a column."""
    ce = {r.bin: r.n for r in histogram_counts(df_expected, column, lo, hi, nbins).collect()}
    ca = {r.bin: r.n for r in histogram_counts(df_actual, column, lo, hi, nbins).collect()}
    return psi(ce, ca, nbins)


def ks_between(
    df_expected: DataFrame, df_actual: DataFrame, column: str, npoints: int = 100
) -> float:
    """End-to-end two-sample KS from approx-quantile sketches."""
    probs = [i / npoints for i in range(npoints + 1)]
    return ks_statistic(
        quantile_sketch(df_expected, column, probs),
        quantile_sketch(df_actual, column, probs),
    )


def chi2_drift_df(
    df: DataFrame,
    col: str,
    group_col: str,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Pearson chi-square homogeneity drift over a CATEGORICAL column
    (the A5 family member KS/PSI don't cover: KS needs an ordering,
    PSI needs numeric bins). Groups 0/1 of ``group_col`` are the two
    samples; output is one row per category —
    (category, n0, n1, contrib) with contrib = sum over both cells of
    (observed - expected)^2 / expected, expected from the standard
    row-total x column-total / grand-total homogeneity table. The
    total chi-square statistic is the sum of contrib (dof =
    categories - 1); per-category rows are emitted so the drift REPORT
    shows which categories moved, not just that something did.

    Scale shape: one map-side-partial groupBy on the category (the
    category dictionary is the shuffle payload, not the corpus); the
    1-row totals frame broadcasts back. Counts stay integer-exact —
    the only float work is the final per-category expression, rounded
    before emission so cross-engine low bits cannot differ."""
    counts = _two_sample_counts(
        df.where(F.col(col).isNotNull()), [F.col(col).alias("category")], group_col
    )
    totals = counts.agg(F.sum("c0").alias("t0"), F.sum("c1").alias("t1"))
    contrib = _chi2_term(*(F.col(c) for c in ("c0", "c1", "t0", "t1")))
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "category",
            F.col("c0").cast("long").alias("n0"),
            F.col("c1").cast("long").alias("n1"),
            F.round(contrib, round_digits).alias("contrib"),
        )
        .orderBy("category")
    )


def divergence_report(
    df: DataFrame,
    column: str,
    group_col,
    lo: float,
    hi: float,
    nbins: int = 20,
    *,
    epsilon: float = 1e-6,
    round_digits: int = 6,
) -> DataFrame:
    """PSI + Pearson chi-square + Jensen-Shannon from ONE histogram
    pass: the fixed-bin counts are the sufficient statistic for all
    three, so a drift dashboard that wants the whole family pays one
    scan + one nbins-row exchange. :func:`psi_df` and
    :func:`js_divergence_df` are projections of this report; chi2 here
    runs over the BINS as its categories (dof = observed bins - 1),
    with :func:`chi2_drift_df`'s homogeneity table. Shape: one bin
    groupBy, its totals broadcast back, one global aggregate (so empty
    input still gives one all-NULL row). Result: one row
    (psi, chi2, dof, jsd)."""
    agg = _two_sample_counts(
        df.where(F.col(column).isNotNull()),
        [_bin(column, lo, hi, nbins).alias("bin")],
        group_col,
    )
    tot = agg.agg(F.sum("c0").alias("t0"), F.sum("c1").alias("t1"))
    return agg.crossJoin(F.broadcast(tot)).agg(
        *_divergence_measures(epsilon, round_digits)
    )


def divergence_report_multi(
    df: DataFrame,
    features: dict[str, tuple[float, float]],
    group_col,
    nbins: int = 20,
    *,
    epsilon: float = 1e-6,
    round_digits: int = 6,
) -> DataFrame:
    """:func:`divergence_report` for MANY columns through ONE
    exchange: a drift dashboard monitoring F features of a 10^12-row
    table pays one scan + one hash exchange on (feature, bin) — F·nbins
    grouping keys — instead of F separate scans and exchanges.  The
    melt is a zero-shuffle projection (one inline of an array of
    (feature, bin) structs, then rows whose value was NULL dropped);
    per-feature totals are a second tiny aggregation over the F·nbins
    partial counts and broadcast back.  The measures are
    :func:`divergence_report`'s, so a single-feature call returns
    exactly its row.

    ``features`` maps column name -> (lo, hi) fixed-bin bounds (out-of-
    range values clamp into the edge bins, same as every fixed-bin
    operator here).  Result: one row per feature
    (feature, psi, chi2, dof, jsd), ordered by feature."""
    g = group_col if not isinstance(group_col, str) else F.col(group_col)
    entries = [
        F.struct(
            F.lit(name).alias("feature"),
            F.when(F.col(name).isNotNull(), _bin(name, lo, hi, nbins)).alias("bin"),
        )
        for name, (lo, hi) in sorted(features.items())
    ]
    melted = df.select(g.alias("_g"), F.inline(F.array(*entries))).where(
        F.col("bin").isNotNull()
    )
    agg = _two_sample_counts(melted, ["feature", "bin"], "_g")
    tot = agg.groupBy("feature").agg(
        F.sum("c0").alias("t0"), F.sum("c1").alias("t1")
    )
    return (
        agg.join(F.broadcast(tot), "feature")
        .groupBy("feature")
        .agg(*_divergence_measures(epsilon, round_digits))
        .orderBy("feature")
    )


def js_divergence_df(
    df: DataFrame,
    column: str,
    group_col,
    lo: float,
    hi: float,
    nbins: int = 20,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Fully-distributed Jensen-Shannon divergence between the
    ``group_col==0`` and ``group_col==1`` populations of ``column``
    over fixed bins — the bounded, symmetric member of the divergence
    family (PSI is unbounded and blows up on empty bins; JSD lives in
    [0, ln 2] and handles zeros natively because a bin empty on one
    side contributes only through the mixture m = (p+q)/2, so no
    epsilon clamp is needed). The ``jsd`` column of
    :func:`divergence_report` (column pruning drops the other
    aggregates). Result: one row (jsd double, natural log, rounded for
    cross-engine determinism)."""
    return divergence_report(
        df, column, group_col, lo, hi, nbins, round_digits=round_digits
    ).select("jsd")
