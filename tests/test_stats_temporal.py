"""Operator tests for stats + temporal modules against scipy/numpy or
closed-form expectations."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_quality_checker_spark.operators import stats as S
from data_quality_checker_spark.operators import temporal as T


@pytest.fixture(scope="module")
def num_df(spark):
    rng = np.random.RandomState(7)
    x = rng.normal(10, 2, 400)
    y = 3 * x + rng.normal(0, 1, 400)
    g = ["a" if i % 2 else "b" for i in range(400)]
    rows = [(float(xi), float(yi), gi) for xi, yi, gi in zip(x, y, g)]
    return spark.createDataFrame(rows, "x double, y double, g string")


def test_skewness_kurtosis_matches_numpy(spark, num_df):
    got = {
        r["column"]: (r["skewness"], r["kurtosis"])
        for r in S.skewness_kurtosis(num_df, ["x"]).collect()
    }
    x = np.array([r["x"] for r in num_df.select("x").collect()])
    m = x.mean()
    m2 = ((x - m) ** 2).mean()
    m3 = ((x - m) ** 3).mean()
    m4 = ((x - m) ** 4).mean()
    assert abs(got["x"][0] - m3 / m2**1.5) < 1e-9
    assert abs(got["x"][1] - (m4 / m2**2 - 3)) < 1e-9


def test_correlation_and_leaks(spark, num_df):
    pairs = S.correlation_pairs(num_df).collect()
    assert len(pairs) == 1 and pairs[0]["corr"] > 0.95
    leaks = S.data_leaks(num_df, "y").collect()
    assert [r["feature"] for r in leaks] == ["x"]


def test_conditional_probability(spark):
    df = spark.createDataFrame(
        [("a", "u"), ("a", "u"), ("a", "v"), ("b", "u")], "g string, o string"
    )
    p = {
        (r["given_value"], r["of_value"]): r["p"]
        for r in S.conditional_probability(df, "g", "o").collect()
    }
    assert abs(p[("a", "u")] - 2 / 3) < 1e-12 and p[("b", "u")] == 1.0


def test_psi_zero_for_identical_and_positive_for_shifted(spark, num_df):
    same = S.psi(num_df, num_df, "x")
    assert abs(same) < 1e-12
    shifted = num_df.select((F.col("x") + 3).alias("x"))
    assert S.psi(num_df, shifted, "x") > 0.2


def test_psi_one_side_empty_matches_sql_twin(spark, num_df):
    """One side empty after the NULL filter used to divide by zero; psi
    must return what the DuckDB twin (__spark_entry__.SQL_PSI's shape)
    returns for the same input: the empty side at the eps floor."""
    import duckdb

    xs = [r["x"] for r in num_df.select("x").collect()]
    nulls = spark.createDataFrame([(None,)] * 3, "x double")
    con = duckdb.connect()
    con.execute("create table base as select unnest(?) as value", [xs])
    want = con.execute(
        """
        with b as (select min(value) lo, max(value) hi from base),
        cb as (select 0 bk, 0 n where false),
        bb as (select least(9, floor((value - lo) / ((hi - lo) / 10)))::int
                      bk, count(*) n from base, b group by 1),
        grid as (select unnest(generate_series(0, 9)) bk),
        p as (select greatest(coalesce(cb.n, 0)::double
                                / (select sum(n) from cb), 1e-4) pc,
                     greatest(coalesce(bb.n, 0)::double
                                / (select sum(n) from bb), 1e-4) pb
              from grid left join cb on grid.bk = cb.bk
                        left join bb on grid.bk = bb.bk)
        select sum((pc - pb) * ln(pc / pb)) from p
        """
    ).fetchone()[0]
    assert want > 0
    assert S.psi(nulls, num_df, "x") == pytest.approx(want, rel=1e-9)
    assert S.psi(num_df, nulls, "x") == pytest.approx(want, rel=1e-9)


def test_mutual_information_and_chi2(spark):
    # perfectly dependent pair
    df = spark.createDataFrame(
        [("a", "u")] * 50 + [("b", "v")] * 50, "x string, y string"
    )
    assert abs(S.mutual_information(df, "x", "y") - math.log(2)) < 1e-9
    res = S.chi_square_independence(df, "x", "y")
    assert res["chi2"] == pytest.approx(100.0)


def test_welch_anova_cohens(spark, num_df):
    # closed-form numpy expectations (scipy absent in this environment;
    # p-values come back NaN then, which the operators document)
    xs = [(r["g"], r["x"]) for r in num_df.select("g", "x").collect()]
    a = np.array([v for g, v in xs if g == "a"])
    b = np.array([v for g, v in xs if g == "b"])
    got = S.welch_t_test(num_df, "g", "x")
    se2 = a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b)
    assert abs(got["t"]) == pytest.approx(
        abs((a.mean() - b.mean()) / math.sqrt(se2)), abs=1e-9
    )
    f_got = S.one_way_anova(num_df, "g", "x")
    n, k = len(a) + len(b), 2
    grand = (a.sum() + b.sum()) / n
    ssb = len(a) * (a.mean() - grand) ** 2 + len(b) * (b.mean() - grand) ** 2
    ssw = (len(a) - 1) * a.var(ddof=1) + (len(b) - 1) * b.var(ddof=1)
    assert f_got["f"] == pytest.approx(
        (ssb / (k - 1)) / (ssw / (n - k)), abs=1e-9
    )
    d = S.cohens_d(num_df, "g", "x")
    pooled = math.sqrt(
        ((len(a) - 1) * a.var(ddof=1) + (len(b) - 1) * b.var(ddof=1))
        / (len(a) + len(b) - 2)
    )
    assert abs(abs(d) - abs((a.mean() - b.mean()) / pooled)) < 1e-9


def test_spread_ci_outlier_impact(spark, num_df):
    row = S.data_spread(num_df, "x").collect()[0]
    x = np.array([r["x"] for r in num_df.select("x").collect()])
    assert row["variance"] == pytest.approx(x.var(ddof=1), abs=1e-9)
    assert row["iqr"] == pytest.approx(
        np.percentile(x, 75) - np.percentile(x, 25), abs=1e-9
    )
    ci = S.confidence_interval(num_df, "x")
    assert ci["lo"] < x.mean() < ci["hi"]
    imp = S.outlier_impact(num_df, "x")
    assert abs(imp["impact"]) < 0.5


# ---------- temporal ----------


@pytest.fixture(scope="module")
def ts_df(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    vals = [10.0, 11.0, 10.5, 12.0, 100.0, 11.5, 10.8, 11.2, 10.9, 11.1]
    for i, v in enumerate(vals):
        rows.append((i, base + dt.timedelta(hours=i), v, "s1"))
    # out-of-order pair (by arrival order `seq`) in a second series
    rows.append((10, base + dt.timedelta(hours=2), 1.0, "s2"))
    rows.append((11, base + dt.timedelta(hours=1), 2.0, "s2"))
    return spark.createDataFrame(
        rows, "seq long, ts timestamp, v double, k string"
    )


def test_out_of_order_and_gaps(spark, ts_df):
    row = T.out_of_order_and_null_timestamps(
        ts_df, "ts", "seq", series_col=None
    ).collect()[0]
    # global arrival order: s2's first row (hour 2) follows s1's last
    # (hour 9) -> 2 backwards steps; per-series only s2's internal one
    assert row["n_out_of_order"] == 2
    per_series = T.out_of_order_and_null_timestamps(
        ts_df, "ts", "seq", series_col="k"
    ).collect()[0]
    assert per_series["n_out_of_order"] == 1


def test_missing_timestamps(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    present = [0, 1, 3, 4]  # hour 2 missing
    df = spark.createDataFrame(
        [(base + dt.timedelta(hours=h),) for h in present], "ts timestamp"
    )
    missing = T.missing_timestamps(df, "ts", "1 hour").collect()
    assert [m["missing_ts"] for m in missing] == [
        base + dt.timedelta(hours=2)
    ]


def test_rolling_spikes_zscore(spark, ts_df):
    s1 = ts_df.filter("k = 's1'")
    rf = T.rolling_forecast(s1, "v", "ts", 3).orderBy("ts").collect()
    assert rf[0]["forecast"] is None
    assert rf[3]["forecast"] == pytest.approx((10.0 + 11.0 + 10.5) / 3)
    spk = T.spikes(s1, "v", "ts", k=2.0)
    assert spk.count() >= 1  # the 100.0 jump
    anom = T.anomalies_zscore(s1, "v", threshold=2.0)
    assert [r["v"] for r in anom.collect()] == [100.0]


def test_monotonicity_and_acf(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(base + dt.timedelta(hours=i), float(i)) for i in range(20)],
        "ts timestamp, v double",
    )
    m = T.monotonicity(df, "v", "ts").collect()[0]
    assert m["strictly_increasing"] and m["non_decreasing"]
    acf = {r["lag"]: r["acf"] for r in T.serial_correlation(df, "v", "ts", 2).collect()}
    assert acf[1] == pytest.approx(1.0)  # linear series


def test_cross_correlation_peak_at_shift(spark):
    import datetime as dt

    rng = np.random.RandomState(3)
    base = dt.datetime(2024, 1, 1)
    x = rng.normal(0, 1, 60)
    y = np.roll(x, 2)  # y lags x by 2
    df = spark.createDataFrame(
        [
            (base + dt.timedelta(hours=i), float(x[i]), float(y[i]))
            for i in range(2, 60)
        ],
        "ts timestamp, a double, b double",
    )
    xc = {r["lag"]: r["xcorr"] for r in T.cross_correlation(df, "a", "b", "ts", 3).collect()}
    assert max(xc, key=lambda k: xc[k] or -9) == -2


def test_forecast_accuracy(spark):
    df = spark.createDataFrame(
        [(10.0, 9.0), (20.0, 22.0), (30.0, 30.0)], "a double, p double"
    )
    row = T.forecast_accuracy(df, "a", "p").collect()[0]
    assert row["mae"] == pytest.approx(1.0)
    assert row["rmse"] == pytest.approx(math.sqrt((1 + 4 + 0) / 3))
    assert row["bias"] == pytest.approx(-1 / 3)
    assert 0.9 < row["r2"] <= 1.0


def test_ewma_matches_pandas(spark, ts_df):
    import pandas as pd

    out = T.ewma(ts_df, "v", "ts", span=3, series_col="k")
    got = (
        out.filter("k = 's1'").orderBy("ts").select("ewma").collect()
    )
    pdf = ts_df.filter("k = 's1'").orderBy("ts").toPandas()
    expect = pdf["v"].ewm(alpha=2 / 4, adjust=True).mean()
    for g, e in zip(got, expect):
        assert g["ewma"] == pytest.approx(e, abs=1e-9)


def test_change_points(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    vals = [1.0] * 20 + [10.0] * 20
    df = spark.createDataFrame(
        [
            (base + dt.timedelta(hours=i), vals[i] + 0.01 * (i % 3), "s")
            for i in range(40)
        ],
        "ts timestamp, v double, k string",
    )
    cps = T.change_points(df, "v", "ts", "k").collect()
    assert len(cps) == 1
    assert cps[0]["change_ts"] == base + dt.timedelta(hours=20)
