"""Statistical operators — the StatisticalAnalyzer surface
(/root/reference/dataset_quality_checker/stat_analyzer.py) rebuilt as
distributive aggregates; tests that are closed-form from sufficient
statistics (t-test, ANOVA, chi2, Bartlett, Cohen's d, MI, PSI) aggregate
in Spark and finish on the driver with the tiny result. Nothing pulls a
full column to the driver."""

from __future__ import annotations

import math
from itertools import combinations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as SqlT

__all__ = [
    "skewness_kurtosis",
    "data_spread",
    "low_variance_features",
    "correlation_pairs",
    "data_leaks",
    "column_redundancy",
    "conditional_probability",
    "psi",
    "mutual_information",
    "cohens_d",
    "welch_t_test",
    "one_way_anova",
    "chi_square_independence",
    "confidence_interval",
    "outlier_impact",
    "histogram",
    "overlapping_categories",
    "levene_statistic",
    "levene_test",
    "multivariate_normality",
    "jarque_bera",
    "bartlett_test",
    "detect_multimodal",
    "vif",
    "bootstrap_means",
    "bootstrap_mean_ci",
    "shapiro_wilk",
    "ecdf_table",
    "correlation_matrix",
    "target_feature_boxstats",
]


def _numeric_cols(df: DataFrame, cols=None):
    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, SqlT.NumericType)
        and (cols is None or f.name in cols)
    ]


def skewness_kurtosis(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Per-column skewness + excess kurtosis (stat_analyzer.py:347-373)
    via Spark built-ins (population central moments)."""
    cols = _numeric_cols(df, cols)
    if not cols:
        return df.sparkSession.range(1).select(
            F.lit("").alias("column"), F.lit(0.0).alias("skewness"),
            F.lit(0.0).alias("kurtosis"),
        ).limit(0)
    agg = df.agg(
        *[F.skewness(c).alias(f"sk_{c}") for c in cols],
        *[F.kurtosis(c).alias(f"ku_{c}") for c in cols],
    )
    return agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(f"sk_{c}").alias("skewness"),
                        F.col(f"ku_{c}").alias("kurtosis"),
                    )
                    for c in cols
                ]
            )
        ).alias("s")
    ).select("s.*")


def data_spread(df: DataFrame, column: str) -> DataFrame:
    """Sample variance + IQR (stat_analyzer.py:437-465). Exact
    percentile at sf scale; percentile_approx at the 100 TB tier."""
    return df.agg(
        F.var_samp(column).alias("variance"),
        (
            F.expr(f"percentile({column}, 0.75)")
            - F.expr(f"percentile({column}, 0.25)")
        ).alias("iqr"),
    )


def low_variance_features(df: DataFrame, threshold: float) -> DataFrame:
    """Columns with sample variance below threshold
    (stat_analyzer.py:59-61)."""
    cols = _numeric_cols(df)
    if not cols:
        return df.sparkSession.range(1).select(
            F.lit("").alias("column"), F.lit(0.0).alias("variance")
        ).limit(0)
    agg = df.agg(*[F.var_samp(c).alias(c) for c in cols])
    return (
        agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column"),
                            F.col(c).alias("variance"),
                        )
                        for c in cols
                    ]
                )
            ).alias("s")
        )
        .select("s.*")
        .filter(F.col("variance") < threshold)
    )


def correlation_pairs(
    df: DataFrame, cols: list[str] | None = None, threshold: float = 0.0
) -> DataFrame:
    """All pairwise Pearson correlations in ONE aggregate job
    (stat_analyzer.py:301-322 runs a k^2 driver loop; we emit k(k-1)/2
    corr expressions in a single scan). Returns (col_a, col_b, corr)."""
    cols = _numeric_cols(df, cols)
    pairs = list(combinations(cols, 2))
    if not pairs:  # 0/1 numeric columns: agg(*[]) would raise
        return df.sparkSession.range(1).select(
            F.lit("").alias("col_a"), F.lit("").alias("col_b"),
            F.lit(0.0).alias("corr"),
        ).limit(0)
    agg = df.agg(
        *[F.corr(a, b).alias(f"c_{i}") for i, (a, b) in enumerate(pairs)]
    )
    return (
        agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(a).alias("col_a"),
                            F.lit(b).alias("col_b"),
                            F.col(f"c_{i}").alias("corr"),
                        )
                        for i, (a, b) in enumerate(pairs)
                    ]
                )
            ).alias("s")
        )
        .select("s.*")
        .filter(F.abs(F.col("corr")) > threshold)
    )


def data_leaks(
    df: DataFrame, target: str, threshold: float = 0.8
) -> DataFrame:
    """Features suspiciously correlated with the target
    (dq_checker.py:265-288). Returns (feature, corr)."""
    feats = [c for c in _numeric_cols(df) if c != target]
    if not feats:  # target is the only numeric column
        return df.sparkSession.range(1).select(
            F.lit("").alias("feature"), F.lit(0.0).alias("corr")
        ).limit(0)
    agg = df.agg(*[F.corr(c, target).alias(c) for c in feats])
    return (
        agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("feature"), F.col(c).alias("corr")
                        )
                        for c in feats
                    ]
                )
            ).alias("s")
        )
        .select("s.*")
        .filter(F.abs(F.col("corr")) > threshold)
    )


def column_redundancy(
    df: DataFrame, corr_threshold: float = 0.95
) -> DataFrame:
    """Highly-correlated numeric pairs (dq_checker.py:665-696); exact
    column equality is covered by quality.duplicate_columns."""
    return correlation_pairs(df, threshold=corr_threshold)


def conditional_probability(
    df: DataFrame, given: str, of: str
) -> DataFrame:
    """P(of | given) for every observed pair (stat_analyzer.py:38-46).
    Returns (given_value, of_value, p)."""
    joint = df.groupBy(
        F.col(given).alias("given_value"), F.col(of).alias("of_value")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("given_value")
    return joint.select(
        "given_value",
        "of_value",
        (F.col("n").cast("double") / F.sum("n").over(w)).alias("p"),
    )


def psi(
    cur: DataFrame,
    base: DataFrame,
    column: str,
    bins: int = 10,
    eps: float = 1e-4,
) -> float:
    """Population Stability Index (stat_analyzer.py:467-509), fully
    distributive: shared bin edges from the global min/max of the union,
    floor-arithmetic bucketing (portable across engines), two groupBy
    counts, tiny driver-side sum.

    A side with no non-NULL values has every bin at the ``eps`` floor,
    which is what the oracle_sql() twin returns for it (its 0 / NULL
    bin share is NULL, and greatest(NULL, eps) is eps)."""
    # NULLs are excluded: F.least(lit, NULL) returns the literal, so
    # unfiltered NULL rows would silently land in the TOP bin and
    # distort both distributions (review finding)
    cur = cur.filter(F.col(column).isNotNull())
    base = base.filter(F.col(column).isNotNull())
    u = cur.select(F.col(column).alias("x")).unionByName(
        base.select(F.col(column).alias("x"))
    )
    # global [lo, hi] as a broadcast one-row aggregate instead of a
    # separate blocking collect: the edges ride the SAME job as the
    # bucket counts (ONE driver round-trip for the whole test,
    # round-7). Cast to double in the aggregate so the in-plan
    # (x - lo) / ((hi - lo) / bins) arithmetic is the identical IEEE
    # sequence the scalar form computed; nullif keeps a constant
    # column (hi == lo) at NULL buckets instead of a NaN floor.
    edges = u.agg(
        F.min("x").cast("double").alias("_lo"),
        F.max("x").cast("double").alias("_hi"),
    )

    from data_quality_checker_spark.tuning import adaptive_coalesce

    def _b(df: DataFrame, side: int) -> DataFrame:
        w = F.nullif(F.col("_hi") - F.col("_lo"), F.lit(0.0)) / F.lit(
            float(bins)
        )
        return df.crossJoin(F.broadcast(edges)).select(
            F.lit(side).alias("side"),
            F.least(
                F.lit(bins - 1),
                F.floor((F.col(column) - F.col("_lo")) / w),
            ).alias("b"),
            "_lo",
            "_hi",
        )

    # both sides bucket-counted in ONE job (side tag + single grouped
    # aggregate); per-side counts identical to separate aggregations
    rows = (
        adaptive_coalesce(
            _b(cur, 0)
            .unionByName(_b(base, 1))
            .groupBy("side", "b")
            .agg(
                F.count(F.lit(1)).alias("count"),
                F.first("_lo").alias("_lo"),
                F.first("_hi").alias("_hi"),
            ),
            cur,
        )
        .collect()
    )
    if not rows:
        return 0.0
    lo, hi = rows[0]["_lo"], rows[0]["_hi"]
    if lo is None or hi is None or hi == lo:
        return 0.0
    cb = {r["b"]: r["count"] for r in rows if r["side"] == 0}
    bb = {r["b"]: r["count"] for r in rows if r["side"] == 1}
    n_c, n_b = sum(cb.values()), sum(bb.values())
    val = 0.0
    for b in range(bins):
        p = max(cb.get(b, 0) / n_c, eps) if n_c else eps
        q = max(bb.get(b, 0) / n_b, eps) if n_b else eps
        val += (p - q) * math.log(p / q)
    return val


def mutual_information(df: DataFrame, x: str, y: str) -> float:
    """MI of two categorical columns from the joint count distribution
    (stat_analyzer.py:640-664) — one groupBy, driver-side formula over
    the (tiny) contingency table."""
    rows = df.groupBy(x, y).count().collect()
    n = sum(r["count"] for r in rows)
    px: dict = {}
    py: dict = {}
    for r in rows:
        px[r[x]] = px.get(r[x], 0) + r["count"]
        py[r[y]] = py.get(r[y], 0) + r["count"]
    mi = 0.0
    for r in rows:
        pxy = r["count"] / n
        mi += pxy * math.log(pxy / ((px[r[x]] / n) * (py[r[y]] / n)))
    return mi


def _group_stats(df: DataFrame, group: str, value: str):
    out = {
        r["g"]: (r["n"], r["m"], r["v"])
        for r in df.groupBy(F.col(group).alias("g"))
        .agg(
            F.count(value).alias("n"),
            F.avg(value).alias("m"),
            F.var_samp(value).alias("v"),
        )
        .collect()
    }
    singletons = [g for g, (n, _, v) in out.items() if v is None]
    if singletons:
        # var_samp of a 1-row group is NULL; every consumer does
        # arithmetic on v and would die with an opaque TypeError
        raise ValueError(
            f"group(s) {singletons!r} have fewer than 2 non-null "
            f"values of {value!r} — variance is undefined; filter "
            f"rare levels before the test"
        )
    return out


def cohens_d(df: DataFrame, group: str, value: str) -> float:
    """Effect size for exactly two groups (stat_analyzer.py:605-638)
    from per-group (n, mean, var) sufficient statistics."""
    stats = _group_stats(df, group, value)
    if len(stats) != 2:
        raise ValueError("cohens_d requires exactly 2 groups")
    (n1, m1, v1), (n2, m2, v2) = stats.values()
    pooled = math.sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))
    return (m1 - m2) / pooled if pooled else 0.0


def welch_t_test(df: DataFrame, group: str, value: str) -> dict:
    """Welch's t from sufficient statistics (stat_analyzer.py:188-253);
    p-value from the t CDF via scipy when present, else reported as
    NaN with the statistic (no heavy dep required)."""
    stats = _group_stats(df, group, value)
    if len(stats) != 2:
        raise ValueError("welch_t_test requires exactly 2 groups")
    (n1, m1, v1), (n2, m2, v2) = stats.values()
    se2 = v1 / n1 + v2 / n2
    if se2 == 0:
        # both groups constant: t undefined (scipy yields nan too)
        return {"t": float("nan"), "dof": float(n1 + n2 - 2),
                "p_value": float("nan")}
    t = (m1 - m2) / math.sqrt(se2)
    dof = se2**2 / ((v1 / n1) ** 2 / (n1 - 1) + (v2 / n2) ** 2 / (n2 - 1))
    p = float("nan")
    try:
        from scipy import stats as sps

        p = float(2 * sps.t.sf(abs(t), dof))
    except ImportError:
        pass
    return {"t": t, "dof": dof, "p_value": p}


def one_way_anova(df: DataFrame, group: str, value: str) -> dict:
    """One-way ANOVA F from per-group sufficient statistics
    (stat_analyzer.py:188-253)."""
    stats = _group_stats(df, group, value)
    ns = [s[0] for s in stats.values()]
    ms = [s[1] for s in stats.values()]
    vs = [s[2] for s in stats.values()]
    n = sum(ns)
    k = len(stats)
    grand = sum(ni * mi for ni, mi in zip(ns, ms)) / n
    ss_between = sum(ni * (mi - grand) ** 2 for ni, mi in zip(ns, ms))
    ss_within = sum((ni - 1) * vi for ni, vi in zip(ns, vs))
    f_stat = (ss_between / (k - 1)) / (ss_within / (n - k))
    p = float("nan")
    try:
        from scipy import stats as sps

        p = float(sps.f.sf(f_stat, k - 1, n - k))
    except ImportError:
        pass
    return {"f": f_stat, "p_value": p}


def chi_square_independence(df: DataFrame, a: str, b: str) -> dict:
    """Chi-square test of independence from the distributed contingency
    table (stat_analyzer.py:188-253 'chi_square')."""
    rows = df.groupBy(a, b).count().collect()
    n = sum(r["count"] for r in rows)
    ra: dict = {}
    rb: dict = {}
    for r in rows:
        ra[r[a]] = ra.get(r[a], 0) + r["count"]
        rb[r[b]] = rb.get(r[b], 0) + r["count"]
    obs = {(r[a], r[b]): r["count"] for r in rows}
    chi2 = 0.0
    for va in ra:
        for vb in rb:
            e = ra[va] * rb[vb] / n
            o = obs.get((va, vb), 0)
            chi2 += (o - e) ** 2 / e
    dof = (len(ra) - 1) * (len(rb) - 1)
    p = float("nan")
    try:
        from scipy import stats as sps

        p = float(sps.chi2.sf(chi2, dof))
    except ImportError:
        pass
    return {"chi2": chi2, "dof": dof, "p_value": p}


def confidence_interval(
    df: DataFrame, column: str, z: float = 1.959963984540054
) -> dict:
    """Mean +/- z * SEM (stat_analyzer.py:135-186; normal quantile in
    place of the t quantile — equivalent at corpus n)."""
    n, m, s = df.agg(
        F.count(column), F.avg(column), F.stddev_samp(column)
    ).collect()[0]
    sem = s / math.sqrt(n)
    return {"mean": m, "lo": m - z * sem, "hi": m + z * sem, "n": n}


def outlier_impact(df: DataFrame, column: str, z: float = 3.0) -> dict:
    """mean(all) - mean(|z|<=3 subset) (stat_analyzer.py:54-57): one
    stats pass + one conditional aggregate."""
    m, s = df.agg(F.avg(column), F.stddev_pop(column)).collect()[0]
    if not s:
        return {"mean_all": m, "mean_trimmed": m, "impact": 0.0}
    trimmed = df.agg(
        F.avg(
            F.when(
                F.abs((F.col(column) - F.lit(m)) / F.lit(s)) <= z,
                F.col(column),
            )
        )
    ).collect()[0][0]
    return {"mean_all": m, "mean_trimmed": trimmed, "impact": m - trimmed}


def histogram(
    df: DataFrame, column: str, bins: int, lo: float, hi: float
) -> DataFrame:
    """Fixed-range histogram via floor arithmetic (engine-portable;
    stat_analyzer.py:493-497). Returns (bucket, n). A degenerate
    range (hi == lo — a constant column's min/max) puts every non-null
    row in bucket 0 instead of raising ANSI DIVIDE_BY_ZERO."""
    if hi == lo:
        return (
            df.filter(F.col(column).isNotNull())
            .select(F.lit(0).cast("bigint").alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    width = (hi - lo) / bins
    return (
        df.filter(F.col(column).isNotNull())
        .select(
            F.least(
                F.lit(bins - 1),
                F.greatest(
                    F.lit(0),
                    F.floor((F.col(column) - F.lit(lo)) / F.lit(width)),
                ),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def overlapping_categories(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Values appearing in both categorical columns
    (dq_checker.py:875-899) — distinct-semi join, never a set collect."""
    return (
        df.select(F.col(col_a).alias("value"))
        .distinct()
        .join(
            df.select(F.col(col_b).alias("value")).distinct(),
            on="value",
            how="semi",
        )
    )


def jarque_bera(df: DataFrame, column: str) -> dict:
    """Normality test from distributive moments (replaces the
    reference's sample-bound Shapiro/KS, stat_analyzer.py:375-403):
    JB = n/6 * (skew^2 + kurtosis^2/4); chi2(2) p-value closed form
    exp(-JB/2). Fully scalable — one aggregate, no sampling."""
    n, sk, ku = df.agg(
        F.count(column), F.skewness(column), F.kurtosis(column)
    ).collect()[0]
    jb = n / 6.0 * (sk**2 + ku**2 / 4.0)
    return {"jb": jb, "p_value": math.exp(-jb / 2.0), "n": n}


def _swilk(x) -> tuple[float, float]:
    """Shapiro-Wilk W and p-value — Royston's AS R94 approximation
    (Royston 1995, the same published algorithm scipy wraps), in pure
    numpy + stdlib statistics.NormalDist (no scipy here): normal-score
    weights from Blom plotting positions with polynomial-corrected
    tail coefficients; p from the lognormal (n<=11) / normal (n>=12)
    transform of W."""
    import numpy as np
    from statistics import NormalDist

    nd = NormalDist()
    x = np.sort(np.asarray(x, dtype="float64"))
    n = len(x)
    if n < 3:
        raise ValueError("shapiro_wilk: need n >= 3")
    if x[0] == x[-1]:
        raise ValueError("shapiro_wilk: all sampled values identical")
    m = np.array(
        [nd.inv_cdf((i - 0.375) / (n + 0.25)) for i in range(1, n + 1)]
    )
    mm = float(m @ m)
    u = 1.0 / math.sqrt(n)
    a = np.empty(n)
    if n == 3:
        a = np.array([-math.sqrt(0.5), 0.0, math.sqrt(0.5)])
    else:
        cn = m[-1] / math.sqrt(mm)
        an = (
            -2.706056 * u**5 + 4.434685 * u**4 - 2.071190 * u**3
            - 0.147981 * u**2 + 0.221157 * u + cn
        )
        if n > 5:
            cn1 = m[-2] / math.sqrt(mm)
            an1 = (
                -3.582633 * u**5 + 5.682633 * u**4 - 1.752461 * u**3
                - 0.293762 * u**2 + 0.042981 * u + cn1
            )
            phi = (mm - 2 * m[-1] ** 2 - 2 * m[-2] ** 2) / (
                1 - 2 * an**2 - 2 * an1**2
            )
            a[2:-2] = m[2:-2] / math.sqrt(phi)
            a[1], a[-2] = -an1, an1
        else:
            phi = (mm - 2 * m[-1] ** 2) / (1 - 2 * an**2)
            a[1:-1] = m[1:-1] / math.sqrt(phi)
        a[0], a[-1] = -an, an
    xc = x - x.mean()
    w = float((a @ x) ** 2 / (xc @ xc))
    if w >= 1.0:
        return 1.0, 1.0
    if n == 3:
        p = (6.0 / math.pi) * (
            math.asin(math.sqrt(w)) - math.asin(math.sqrt(0.75))
        )
        return w, min(max(p, 0.0), 1.0)
    if n <= 11:
        g = -2.273 + 0.459 * n
        mu = 0.5440 - 0.39978 * n + 0.025054 * n**2 - 0.0006714 * n**3
        sig = math.exp(
            1.3822 - 0.77857 * n + 0.062767 * n**2 - 0.0020322 * n**3
        )
        arg = g - math.log(1.0 - w)
        if arg <= 0:
            return w, 0.0
        z = (-math.log(arg) - mu) / sig
    else:
        ln = math.log(n)
        mu = 0.0038915 * ln**3 - 0.083751 * ln**2 - 0.31082 * ln - 1.5861
        sig = math.exp(0.0030302 * ln**2 - 0.082676 * ln - 0.4803)
        z = (math.log(1.0 - w) - mu) / sig
    return w, min(max(1.0 - nd.cdf(z), 0.0), 1.0)


def shapiro_wilk(
    df: DataFrame, column: str, max_n: int = 5000, seed: int = 42
) -> dict:
    """The reference's check_normality Shapiro branch
    (stat_analyzer.py:375-403). Shapiro-Wilk is sample-size bound BY
    DESIGN (~5k cap in the reference too — its p-approximation
    degrades beyond that), so this is the one legitimately
    driver-side test: a bounded SEEDED sample -> Royston AS R94 on
    the driver. For unbounded data use :func:`jarque_bera`, the
    distributive moment test. Returns {"w", "p_value", "n"}."""
    from data_quality_checker_spark.plans.sampling import (
        stride_sample_column,
    )

    # shared unbiased bounded draw (no head-of-corpus limit() bias —
    # see stride_sample_column); cap 2*max_n guards adversarial frac
    # rounding while keeping the expected ~1.2*max_n draw. na.drop()
    # BEFORE the sampler: it excludes NaN as well as null (the
    # sampler's own isNotNull filter lets NaN through, and one NaN
    # would poison the whole W statistic)
    vals = stride_sample_column(
        df.select(column).na.drop(), column,
        target=max_n, cap=2 * max_n, seed=seed,
    )
    w, p = _swilk(vals)
    return {"w": w, "p_value": p, "n": len(vals)}


def bartlett_test(df: DataFrame, group: str, value: str) -> dict:
    """Bartlett homoscedasticity test from per-group (n, var)
    sufficient statistics (stat_analyzer.py:511-549). Levene's median
    variant needs per-group medians -> percentile_approx + second pass;
    Bartlett is the one-pass distributive choice."""
    stats = {
        r["g"]: (r["n"], r["v"])
        for r in df.groupBy(F.col(group).alias("g"))
        .agg(F.count(value).alias("n"), F.var_samp(value).alias("v"))
        .collect()
    }
    k = len(stats)
    n = sum(s[0] for s in stats.values())
    sp2 = sum((ni - 1) * vi for ni, vi in stats.values()) / (n - k)
    num = (n - k) * math.log(sp2) - sum(
        (ni - 1) * math.log(vi) for ni, vi in stats.values()
    )
    den = 1 + (
        sum(1 / (ni - 1) for ni, _ in stats.values()) - 1 / (n - k)
    ) / (3 * (k - 1))
    stat = num / den
    p = float("nan")
    try:
        from scipy import stats as sps

        p = float(sps.chi2.sf(stat, k - 1))
    except ImportError:
        pass
    return {"statistic": stat, "dof": k - 1, "p_value": p}


def detect_multimodal(
    df: DataFrame, column: str, bins: int = 30, min_prominence: float = 0.15
) -> dict:
    """Histogram peak detection (stat_analyzer.py:405-435 used
    scipy.signal.find_peaks): distributed fixed-range histogram +
    driver-side local-maximum scan with a relative-prominence floor.
    Returns {"n_peaks", "peak_buckets"}."""
    lo, hi = df.agg(F.min(column), F.max(column)).collect()[0]
    if lo is None or hi is None or lo == hi:
        return {"n_peaks": 0, "peak_buckets": []}
    counts = {
        r["bucket"]: r["n"]
        for r in histogram(df, column, bins, float(lo), float(hi)).collect()
    }
    raw = [counts.get(b, 0) for b in range(bins)]
    # light smoothing: histogram sampling noise creates spurious maxima
    series = [
        (raw[max(0, b - 1)] + raw[b] + raw[min(bins - 1, b + 1)]) / 3.0
        for b in range(bins)
    ]
    top = max(series) or 1.0

    def _is_peak(b: int) -> bool:
        # edge buckets compare one-sided: a mode at the range minimum
        # (exponential-like data) or maximum is still a mode —
        # excluding them inverted the multimodality verdict for
        # edge-moded distributions (review finding)
        left_ok = b == 0 or series[b] > series[b - 1]
        right_ok = b == bins - 1 or series[b] >= series[b + 1]
        return left_ok and right_ok and series[b] >= min_prominence * top

    candidates = [b for b in range(bins) if _is_peak(b)]
    # valley separation: a candidate is a distinct mode only if the
    # histogram dips below half its height between it and every
    # already-accepted (taller) peak
    accepted: list[int] = []
    for b in sorted(candidates, key=lambda x: -series[x]):
        ok = True
        for a in accepted:
            lo_i, hi_i = sorted((a, b))
            valley = min(series[lo_i : hi_i + 1])
            if valley > 0.5 * min(series[a], series[b]):
                ok = False
                break
        if ok:
            accepted.append(b)
    accepted.sort()
    return {"n_peaks": len(accepted), "peak_buckets": accepted}


def levene_statistic(
    df: DataFrame, group: str, value: str
) -> DataFrame:
    """Brown-Forsythe/Levene homoscedasticity statistic (median-centered,
    scipy.stats.levene's default — the reference's 'levene' branch,
    stat_analyzer.py:511-549). Plan: exact per-group medians (one agg),
    broadcast back (group cardinality is small by construction), then
    the one-way-ANOVA F over z = |x - median_g| from per-group
    sufficient statistics — two scans, no driver collect. Returns one
    row (w, dof1, dof2)."""
    med = df.filter(F.col(value).isNotNull()).groupBy(group).agg(
        F.median(value).alias("_med")
    )
    z = (
        df.filter(F.col(value).isNotNull())
        .join(F.broadcast(med), group)
        .select(group, F.abs(F.col(value) - F.col("_med")).alias("_z"))
    )
    s = z.groupBy(group).agg(
        F.count("_z").alias("_n"),
        F.avg("_z").alias("_m"),
        F.var_samp("_z").alias("_v"),
    )
    # W = ((N-k)/(k-1)) * ss_between / ss_within with
    # ss_between = sum n*m^2 - N*grand^2, ss_within = sum (n-1)*v
    agg = s.agg(
        F.sum("_n").alias("N"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("_n") * F.col("_m")).alias("snm"),
        F.sum(F.col("_n") * F.col("_m") * F.col("_m")).alias("snm2"),
        F.sum((F.col("_n") - 1) * F.col("_v")).alias("ssw"),
    )
    nn, kk = F.col("N").cast("double"), F.col("k").cast("double")
    ss_between = F.col("snm2") - F.col("snm") * F.col("snm") / F.nullif(
        nn, F.lit(0.0)
    )
    return agg.select(
        (
            # nullif: one group (k=1) or all-constant groups (ssw=0)
            # make W undefined — NULL, not an ANSI crash
            ((nn - kk) / F.nullif(kk - 1.0, F.lit(0.0)))
            * ss_between
            / F.nullif(F.col("ssw"), F.lit(0.0))
        ).alias("w"),
        (F.col("k") - 1).cast("bigint").alias("dof1"),
        (F.col("N") - F.col("k")).cast("bigint").alias("dof2"),
    )


def levene_test(df: DataFrame, group: str, value: str) -> dict:
    """Dict-shaped reference twin (stat_analyzer.py:511-549 'levene'):
    {'test_statistic', 'p_value', 'equal_variance'}; p via scipy's F
    survival function when present, else NaN with the statistic."""
    row = levene_statistic(df, group, value).collect()[0]
    p = float("nan")
    try:
        from scipy import stats as sps

        p = float(sps.f.sf(row["w"], row["dof1"], row["dof2"]))
    except ImportError:
        pass
    return {
        "test_statistic": row["w"],
        "p_value": p,
        "equal_variance": (p > 0.05) if p == p else None,
    }


def multivariate_normality(df: DataFrame, columns: list[str]) -> DataFrame:
    """Per-column normality over a column set
    (stat_analyzer.py:579-603; the reference loops Shapiro-Wilk, which
    is sample-bound — this uses the distributive Jarque-Bera substitute,
    same substitution as jarque_bera above). One aggregate pass computes
    (n, skewness, kurtosis) for ALL columns, then stacks to one row per
    column: (column, jb, p_value, normal). p = exp(-jb/2) is the exact
    chi2(2) survival closed form — fully SQL-portable."""
    aggs = []
    for c in columns:
        aggs += [
            F.count(c).alias(f"_n_{c}"),
            F.skewness(c).alias(f"_sk_{c}"),
            F.kurtosis(c).alias(f"_ku_{c}"),
        ]
    a = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            (
                F.col(f"_n_{c}").cast("double")
                / 6.0
                * (
                    F.col(f"_sk_{c}") * F.col(f"_sk_{c}")
                    + F.col(f"_ku_{c}") * F.col(f"_ku_{c}") / 4.0
                )
            ).alias("jb"),
            F.col(f"_n_{c}").cast("bigint").alias("n"),
        )
        for c in columns
    ]
    stacked = a.select(F.explode(F.array(*structs)).alias("s")).select(
        "s.column", "s.jb", "s.n"
    )
    return stacked.select(
        "column",
        "jb",
        "n",
        F.exp(-F.col("jb") / 2.0).alias("p_value"),
        (F.exp(-F.col("jb") / 2.0) > 0.05).alias("normal"),
    )


def vif(df: DataFrame, cols: list[str] | None = None) -> dict[str, float]:
    """Variance inflation factors (check_multicollinearity,
    stat_analyzer.py — the reference loops statsmodels OLS per column;
    scoped out in round 1, closed here via the linear-algebra identity
    VIF_j = diag(inv(R))_j where R is the correlation matrix). One
    distributed scan (the same k(k-1)/2 corr aggregate as
    correlation_pairs), then a k x k inversion on the driver — the
    sufficient-statistics split prescribed in SURVEY.md §2.10. Raises
    on a singular correlation matrix (perfectly collinear columns have
    infinite VIF)."""
    import numpy as np

    cols = _numeric_cols(df, cols)
    if len(cols) < 2:
        # one column cannot be collinear with anything: VIF = 1 exactly
        return {c: 1.0 for c in cols}
    pairs = list(combinations(cols, 2))
    row = df.agg(
        *[F.corr(a, b).alias(f"c_{i}") for i, (a, b) in enumerate(pairs)]
    ).collect()[0]
    k = len(cols)
    r = np.eye(k)
    for i, (a, b) in enumerate(pairs):
        v = row[f"c_{i}"]
        if v is None:
            # F.corr returns NULL for a zero-variance (or all-null)
            # column; assigning None into float64 raises an opaque
            # TypeError — name the offending pair instead.
            raise ValueError(
                f"vif: correlation({a}, {b}) is NULL — one of the "
                f"columns is constant or has no non-null rows; drop "
                f"it before computing VIF"
            )
        ia, ib = cols.index(a), cols.index(b)
        r[ia, ib] = r[ib, ia] = v
    inv = np.linalg.inv(r)
    return {c: float(inv[i, i]) for i, c in enumerate(cols)}


# cumulative Poisson(1) inverse-CDF thresholds as 13-hex-char strings:
# a fixed-width hex prefix of md5 compares lexicographically exactly as
# the 52-bit integer it encodes, so `hex13 < threshold` is a pure
# string comparison ANY engine reproduces byte-for-byte (no portable
# 64-bit hash-to-int needed).
_POISSON1_CDF = (
    0.36787944117144233,  # P(X <= 0)
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
)
POISSON1_HEX_THRESHOLDS = tuple(
    format(int(p * (1 << 52)), "013x") for p in _POISSON1_CDF
)


def _poisson1_weight(hex13):
    """Poisson(1) draw from a 13-hex-char uniform (inverse CDF; capped
    at 8 — P(X > 8) ~ 1e-6, negligible for resampling weights)."""
    w = F.lit(8)
    for k in reversed(range(len(POISSON1_HEX_THRESHOLDS))):
        w = F.when(hex13 < F.lit(POISSON1_HEX_THRESHOLDS[k]), F.lit(k)).otherwise(w)
    return w


def bootstrap_means(
    df: DataFrame,
    column: str,
    id_col: str,
    n_boot: int = 100,
    seed: int = 0,
) -> DataFrame:
    """Poisson bootstrap (bootstrap_sampling_analysis,
    stat_analyzer.py — the reference resamples with pandas .sample in a
    driver loop; scoped out in round 1, closed here with the standard
    distributed form): replicate b gives each row weight
    Poisson(1) ~ md5(id|seed|b), so ALL n_boot resampled means come out
    of ONE scan as 2*n_boot aggregate expressions — no data movement,
    no per-replicate pass, deterministic under task retry (hash-seeded,
    not rand()). Returns (boot, boot_mean), one row per replicate."""
    x = F.col(column)
    sums = []
    for b in range(n_boot):
        h = F.substring(
            F.md5(
                F.concat_ws(
                    "|", F.col(id_col).cast("string"), F.lit(f"{seed}.{b}")
                )
            ),
            1,
            13,
        )
        w = _poisson1_weight(h).cast("double")
        sums += [
            F.sum(w * x).alias(f"_s{b}"),
            F.sum(w).alias(f"_c{b}"),
        ]
    agg = df.filter(x.isNotNull()).agg(*sums)
    structs = [
        F.struct(
            F.lit(b).alias("boot"),
            # nullif: a replicate whose Poisson weights are all zero
            # (P = e^-n, realistic for tiny n) yields a NULL mean
            # instead of an ANSI DIVIDE_BY_ZERO job abort
            (
                F.col(f"_s{b}")
                / F.nullif(F.col(f"_c{b}"), F.lit(0.0))
            ).alias("boot_mean"),
        )
        for b in range(n_boot)
    ]
    return agg.select(F.explode(F.array(*structs)).alias("r")).select(
        "r.boot", "r.boot_mean"
    )


def bootstrap_mean_ci(
    df: DataFrame,
    column: str,
    id_col: str,
    n_boot: int = 200,
    alpha: float = 0.05,
    seed: int = 0,
) -> dict:
    """Percentile bootstrap CI for the mean: the n_boot replicate means
    (tiny) come to the driver, the percentile is taken there."""
    means = sorted(
        r["boot_mean"]
        for r in bootstrap_means(df, column, id_col, n_boot, seed).collect()
        if r["boot_mean"] is not None
    )

    def q(p: float) -> float:
        i = p * (len(means) - 1)
        lo, hi = int(i), min(int(i) + 1, len(means) - 1)
        return means[lo] + (i - lo) * (means[hi] - means[lo])

    return {
        "mean": sum(means) / len(means),
        "lo": q(alpha / 2),
        "hi": q(1 - alpha / 2),
        "n_boot": n_boot,
    }


def ecdf_table(
    df: DataFrame, column: str, partitions: int = 32
) -> DataFrame:
    """(value, cdf) — the empirical CDF itself, i.e. plot_cdf
    (stat_analyzer.py:18-28) minus the matplotlib render (viz scoped
    out; the sorted-data/cdf arrays the reference plots ARE this
    table). One row per DISTINCT value, so the output is bounded by
    value cardinality, not row count, and the cumulative counts come
    from drift.prefix_sums' two-phase distributed scan — never a
    single-partition global window. Call drift.release_cache(result)
    when consumed (the prefix_sums cache handle is propagated)."""
    from data_quality_checker_spark.operators.drift import prefix_sums

    counts = (
        df.filter(F.col(column).isNotNull())
        .groupBy(F.col(column).cast("double").alias("value"))
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    cum = prefix_sums(counts, "value", ["cnt"], partitions=partitions)
    total = cum.agg(F.sum("cnt").alias("_n"))
    out = cum.crossJoin(F.broadcast(total)).select(
        "value", (F.col("cum_cnt") / F.col("_n")).alias("cdf")
    )
    out._cached_deps = getattr(cum, "_cached_deps", [])  # noqa: SLF001
    return out


def correlation_matrix(
    df: DataFrame, cols: list[str] | None = None
) -> DataFrame:
    """Full symmetric Pearson correlation matrix in long form
    (col_x, col_y, corr) including the unit diagonal — the data behind
    plot_correlation_heatmap (stat_analyzer.py:30-35), render scoped
    out. Single scan: the k(k-1)/2 upper-triangle corr aggregates run
    in ONE job (correlation_pairs' plan), then the mirror and diagonal
    are pure projections of that 1-row aggregate. A constant column
    yields NULL corr (matching pandas' NaN)."""
    cols = _numeric_cols(df, cols)
    pairs = list(combinations(cols, 2))
    if not pairs:
        # 0/1 numeric columns: agg(*[]) would raise; the matrix is
        # still well-defined (just the unit diagonal, or empty)
        one = df.sparkSession.range(1)
        base = one.select(
            F.lit("").alias("col_x"),
            F.lit("").alias("col_y"),
            F.lit(1.0).alias("corr"),
        )
        if not cols:
            return base.limit(0)
        return one.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("col_x"),
                            F.lit(c).alias("col_y"),
                            F.lit(1.0).alias("corr"),
                        )
                        for c in cols
                    ]
                )
            ).alias("s")
        ).select("s.*")
    agg = df.agg(
        *[F.corr(a, b).alias(f"c_{i}") for i, (a, b) in enumerate(pairs)]
    )
    cells = [
        F.struct(
            F.lit(a).alias("col_x"),
            F.lit(b).alias("col_y"),
            F.col(f"c_{i}").alias("corr"),
        )
        for i, (a, b) in enumerate(pairs)
    ] + [
        F.struct(
            F.lit(b).alias("col_x"),
            F.lit(a).alias("col_y"),
            F.col(f"c_{i}").alias("corr"),
        )
        for i, (a, b) in enumerate(pairs)
    ] + [
        F.struct(
            F.lit(c).alias("col_x"),
            F.lit(c).alias("col_y"),
            F.lit(1.0).alias("corr"),
        )
        for c in cols
    ]
    return agg.select(F.explode(F.array(*cells)).alias("s")).select("s.*")


def target_feature_boxstats(
    df: DataFrame,
    target_col: str,
    feature_cols: list[str],
    exact: bool = True,
) -> DataFrame:
    """Per-target-class five-number summary + mean/count for each
    feature — the boxplot data behind target_feature_relationship
    (dq_checker.py:178-198; sns.boxplot per feature), render scoped
    out. ONE grouped aggregate computes every feature's stats
    (exact percentiles via F.percentile — linear interpolation, the
    same definition DuckDB's quantile_cont and numpy's default use),
    then the wide row unpivots to (target, feature, ...) long form via
    a pure projection. Missing feature columns are skipped like the
    reference's print-and-continue.

    ``exact=True`` buffers each group's values in the aggregate —
    correct for the bounded class-count groups this is meant for, but
    at crawl scale with huge groups pass ``exact=False`` to use
    percentile_approx (Greenwald-Khanna sketch, constant memory)."""
    feats = [c for c in feature_cols if c in df.columns]
    if not feats:
        # every requested column missing: skip-and-continue like the
        # reference — an EMPTY result, not an agg(*[]) AssertionError
        return (
            df.sparkSession.range(1)
            .select(
                F.lit("").alias("target"),
                F.lit("").alias("feature"),
                F.lit(0).cast("bigint").alias("n"),
                F.lit(0.0).alias("min_v"),
                F.lit(0.0).alias("q1"),
                F.lit(0.0).alias("median"),
                F.lit(0.0).alias("q3"),
                F.lit(0.0).alias("max_v"),
                F.lit(0.0).alias("mean"),
            )
            .limit(0)
        )

    def pct(c, p):
        if exact:
            return F.percentile(c, F.lit(p))
        return F.percentile_approx(c, F.lit(p), F.lit(10000)).cast("double")

    agg = df.groupBy(F.col(target_col).alias("target")).agg(
        *[
            a
            for c in feats
            for a in (
                F.count(c).alias(f"n_{c}"),
                F.min(c).cast("double").alias(f"min_{c}"),
                pct(c, 0.25).alias(f"q1_{c}"),
                pct(c, 0.5).alias(f"med_{c}"),
                pct(c, 0.75).alias(f"q3_{c}"),
                F.max(c).cast("double").alias(f"max_{c}"),
                F.avg(c).alias(f"mean_{c}"),
            )
        ]
    )
    return agg.select(
        "target",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("feature"),
                        F.col(f"n_{c}").alias("n"),
                        F.col(f"min_{c}").alias("min_v"),
                        F.col(f"q1_{c}").alias("q1"),
                        F.col(f"med_{c}").alias("median"),
                        F.col(f"q3_{c}").alias("q3"),
                        F.col(f"max_{c}").alias("max_v"),
                        F.col(f"mean_{c}").alias("mean"),
                    )
                    for c in feats
                ]
            )
        ).alias("s"),
    ).select("target", "s.*")
