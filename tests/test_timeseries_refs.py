"""Independent pure-Python/numpy references for the time-series
statistics whose DuckDB oracles mirror the engine's own construction —
a shared-construction oracle can't catch a shared mistake, so these
recompute from the raw parquet with different machinery (pandas
groupby + numpy), not SQL."""

from __future__ import annotations

import numpy as np
import pandas as pd

from tests.conftest import SF_DIR


def _orders_daily() -> pd.Series:
    df = pd.read_parquet(f"{SF_DIR}/orders.parquet",
                         columns=["o_orderdate", "o_totalprice"])
    day = pd.to_datetime(df["o_orderdate"]).dt.date
    # float64 sum is fine for the REFERENCE: assertions use tolerances
    return df.groupby(day)["o_totalprice"].sum().sort_index()


def test_theil_sen_matches_numpy_median_of_slopes(spark):
    from data_warehouse_co_healthy_spark.operators.temporal import (
        theil_sen_slope,
    )

    df = pd.read_parquet(f"{SF_DIR}/orders.parquet",
                         columns=["o_orderdate", "o_totalprice"])
    dt = pd.to_datetime(df["o_orderdate"])
    mi = dt.dt.year * 12 + dt.dt.month
    monthly = df.groupby(mi)["o_totalprice"].sum()
    xs = monthly.index.to_numpy(dtype=np.float64)
    ys = monthly.to_numpy(dtype=np.float64)
    slopes = [
        (ys[j] - ys[i]) / (xs[j] - xs[i])
        for i in range(len(xs))
        for j in range(i + 1, len(xs))
    ]
    want = float(np.median(slopes))

    row = theil_sen_slope(spark, SF_DIR).collect()[0]
    assert row["n_pairs"] == len(slopes)
    assert abs(row["theil_sen_slope"] - want) < 1e-3, (
        row["theil_sen_slope"], want,
    )


def test_holt_matches_pure_python_replay(spark):
    from data_warehouse_co_healthy_spark.operators.temporal import (
        HOLT_1A,
        HOLT_1B,
        HOLT_A,
        HOLT_B,
        holt_forecast,
    )

    daily = _orders_daily()
    ys = daily.to_numpy(dtype=np.float64)
    lvl, trd = ys[0], ys[1] - ys[0]
    want = {str(daily.index[0]): (lvl, trd, None, None)}
    for day, y in zip(daily.index[1:], ys[1:]):
        fc = lvl + trd
        new_lvl = HOLT_A * y + HOLT_1A * (lvl + trd)
        trd = HOLT_B * (new_lvl - lvl) + HOLT_1B * trd
        lvl = new_lvl
        want[str(day)] = (lvl, trd, fc, abs(y - fc))

    got = holt_forecast(spark, SF_DIR).collect()
    assert len(got) == len(want)
    # engine sums in exact decimal, reference in float64: the daily
    # revenue totals agree to ~1e-6 relative, and the recursion is a
    # contraction (alpha<1), so a loose relative tolerance is correct
    for r in got:
        wl, wt, wf, we = want[r["day"]]
        assert abs(r["level"] - wl) <= 1e-6 * max(1.0, abs(wl)), r["day"]
        assert abs(r["trend"] - wt) <= 1e-4 * max(1.0, abs(wl)), r["day"]
        if wf is None:
            assert r["forecast"] is None and r["abs_err"] is None
        else:
            assert abs(r["forecast"] - wf) <= 1e-4 * max(1.0, abs(wf))


def test_gapfill_linear_matches_pandas_interpolation(spark):
    from data_warehouse_co_healthy_spark.operators.temporal import (
        gapfill_linear,
    )

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ev = ev[ev["event_type"] == "purchase"].copy()
    # events.ts is parquet TIMESTAMP(MICROS) → pandas datetime64[us]
    ev["day"] = pd.to_datetime(ev["ts"]).dt.date
    daily = (
        ev.groupby(["user_id", "day"])["value"]
        .sum()
        .round(4)
        .rename("day_value")
        .reset_index()
    )
    want: dict[tuple[int, str], tuple[bool, float]] = {}
    for uid, grp in daily.groupby("user_id"):
        grp = grp.set_index(pd.to_datetime(grp["day"]))
        grid = grp["day_value"].reindex(
            pd.date_range(grp.index.min(), grp.index.max(), freq="D")
        )
        interp = grid.interpolate(method="time")
        for day, v in interp.items():
            obs = not pd.isna(grid[day])
            want[(uid, day.strftime("%Y-%m-%d"))] = (obs, float(v))

    got = gapfill_linear(spark, SF_DIR).collect()
    assert len(got) == len(want)
    for r in got:
        obs, v = want[(r["user_id"], r["day"])]
        assert r["observed"] == obs, (r["user_id"], r["day"])
        assert abs(r["interp_value"] - v) < 1e-3, (
            r["user_id"], r["day"], r["interp_value"], v,
        )


def test_acf_matches_numpy_corrcoef(spark):
    from data_warehouse_co_healthy_spark.operators.temporal import (
        ACF_MAX_LAG,
        acf_daily_revenue,
    )

    ys = _orders_daily().to_numpy(dtype=np.float64)
    got = {r["lag"]: r for r in acf_daily_revenue(spark, SF_DIR).collect()}
    assert set(got) == set(range(1, ACF_MAX_LAG + 1))
    for k in range(1, ACF_MAX_LAG + 1):
        x, y = ys[k:], ys[:-k]
        want = float(np.corrcoef(x, y)[0, 1])
        assert got[k]["n"] == len(x)
        assert abs(got[k]["acf"] - want) < 1e-6, (k, got[k]["acf"], want)


def test_gini_matches_pure_python_mean_abs_difference(spark):
    """Gini via the DEFINITION — mean absolute difference / (2·mean) —
    not the rank formula the engine and oracle share."""
    from data_warehouse_co_healthy_spark.operators.aggregates import (
        gini_by_nation,
    )

    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet",
                             columns=["o_custkey", "o_totalprice"])
    cust = pd.read_parquet(f"{SF_DIR}/customer.parquet",
                           columns=["c_custkey", "c_nationkey"])
    nation = pd.read_parquet(f"{SF_DIR}/nation.parquet",
                             columns=["n_nationkey", "n_name"])
    spend = orders.groupby("o_custkey")["o_totalprice"].sum().reset_index()
    j = spend.merge(cust, left_on="o_custkey", right_on="c_custkey").merge(
        nation, left_on="c_nationkey", right_on="n_nationkey"
    )
    got = {r["nation"]: r for r in gini_by_nation(spark, SF_DIR).collect()}
    assert set(got) == set(j["n_name"].unique())
    for name, grp in j.groupby("n_name"):
        xs = grp["o_totalprice"].to_numpy(dtype=np.float64)
        n = len(xs)
        mad = np.abs(xs[:, None] - xs[None, :]).sum() / (n * n)
        want = mad / (2.0 * xs.mean())
        assert got[name]["n_customers"] == n
        assert abs(got[name]["gini"] - want) < 1e-6, (
            name, got[name]["gini"], want,
        )


def test_ks_matches_brute_force_ecdf(spark):
    """KS distance by evaluating BOTH full ECDFs at every pooled point
    — the O(n²) definition, not the cumulative-window construction."""
    from data_warehouse_co_healthy_spark.llm.text import (
        AUC_POS_LANG,
        ks_two_sample,
    )

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet",
                           columns=["source", "lang", "n_chars"])
    got = {r["source"]: r for r in ks_two_sample(spark, SF_DIR).collect()}
    for src, grp in docs.groupby("source"):
        pos = grp.loc[grp["lang"] == AUC_POS_LANG, "n_chars"].to_numpy()
        neg = grp.loc[grp["lang"] != AUC_POS_LANG, "n_chars"].to_numpy()
        if len(pos) == 0 or len(neg) == 0:
            assert src not in got
            continue
        pooled = np.unique(np.concatenate([pos, neg]))
        fpos = (pos[:, None] <= pooled[None, :]).mean(axis=0)
        fneg = (neg[:, None] <= pooled[None, :]).mean(axis=0)
        want = float(np.abs(fpos - fneg).max())
        r = got[src]
        assert (r["n_pos"], r["n_neg"]) == (len(pos), len(neg))
        assert abs(r["ks"] - want) < 1e-6, (src, r["ks"], want)


def test_spearman_matches_pandas_rank_corr(spark):
    from data_warehouse_co_healthy_spark.operators.aggregates import (
        spearman_by_group,
    )

    li = pd.read_parquet(
        f"{SF_DIR}/lineitem.parquet",
        columns=["l_returnflag", "l_quantity", "l_extendedprice"],
    )
    got = {
        r["l_returnflag"]: r
        for r in spearman_by_group(spark, SF_DIR).collect()
    }
    for flag, grp in li.groupby("l_returnflag"):
        # scipy isn't installed: average ranks by hand + plain Pearson
        rx = grp["l_quantity"].rank(method="average")
        ry = grp["l_extendedprice"].rank(method="average")
        want = float(np.corrcoef(rx, ry)[0, 1])
        r = got[flag]
        assert r["n"] == len(grp)
        assert abs(r["spearman"] - want) < 1e-6, (flag, r["spearman"], want)


def test_jsd_matches_scipy_free_reference(spark):
    """JSD recomputed from full per-source distributions with numpy
    over the UNION vocabulary — not the shared-token decomposition."""
    import re

    from data_warehouse_co_healthy_spark.llm.text import (
        js_divergence_sources,
    )

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet",
                           columns=["source", "text"])
    dist: dict[str, pd.Series] = {}
    for src, grp in docs.groupby("source"):
        toks = pd.Series(
            [w for t in grp["text"] for w in re.split(r"\s+",
                                                      t.strip().lower())]
        )
        dist[src] = toks.value_counts() / len(toks)
    got = {(r["s1"], r["s2"]): r
           for r in js_divergence_sources(spark, SF_DIR).collect()}
    srcs = sorted(dist)
    checked = 0
    for i, s1 in enumerate(srcs):
        for s2 in srcs[i + 1:]:
            p = dist[s1]
            q = dist[s2]
            vocab = p.index.union(q.index)
            pv = p.reindex(vocab, fill_value=0.0).to_numpy()
            qv = q.reindex(vocab, fill_value=0.0).to_numpy()
            m = (pv + qv) / 2.0
            with np.errstate(divide="ignore", invalid="ignore"):
                t1 = np.where(pv > 0, pv * np.log2(pv / m), 0.0).sum()
                t2 = np.where(qv > 0, qv * np.log2(qv / m), 0.0).sum()
            want = 0.5 * (t1 + t2)
            r = got[(s1, s2)]
            assert abs(r["jsd"] - want) < 1e-4, (s1, s2, r["jsd"], want)
            checked += 1
    assert checked == len(got)


def test_ohlc_matches_pandas_first_last(spark):
    from data_warehouse_co_healthy_spark.operators.temporal import (
        ohlc_daily,
    )

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ev = ev[ev["event_type"] == "purchase"].copy()
    ev["day"] = pd.to_datetime(ev["ts"]).dt.strftime("%Y-%m-%d")
    ev = ev.sort_values(["day", "ts", "event_id"])
    got = {r["day"]: r for r in ohlc_daily(spark, SF_DIR).collect()}
    assert set(got) == set(ev["day"].unique())
    for day, grp in ev.groupby("day"):
        r = got[day]
        assert r["n_trades"] == len(grp)
        assert abs(r["open"] - grp["value"].iloc[0]) < 1e-4
        assert abs(r["close"] - grp["value"].iloc[-1]) < 1e-4
        assert abs(r["high"] - grp["value"].max()) < 1e-4
        assert abs(r["low"] - grp["value"].min()) < 1e-4
        assert abs(r["volume"] - round(grp["value"].sum(), 4)) < 1e-3


def test_cohort_ltv_matches_pandas_replay(spark):
    from data_warehouse_co_healthy_spark.operators.temporal import (
        cohort_ltv,
    )

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ev = ev[ev["event_type"] == "purchase"].copy()
    wk = pd.to_datetime(ev["ts"]).dt.to_period("W").dt.start_time
    ev["wk"] = wk
    first = ev.groupby("user_id")["wk"].min().rename("cohort")
    ev = ev.join(first, on="user_id")
    ev["age_weeks"] = ((ev["wk"] - ev["cohort"]).dt.days // 7).astype(int)
    ev["cohort_week"] = ev["cohort"].dt.strftime("%Y-%m-%d")
    sizes = first.reset_index().groupby("cohort")["user_id"].nunique()
    weekly = (
        ev.groupby(["cohort_week", "age_weeks"])["value"].sum().sort_index()
    )
    got = {
        (r["cohort_week"], r["age_weeks"]): r
        for r in cohort_ltv(spark, SF_DIR).collect()
    }
    assert set(got) == set(weekly.index)
    for (cw, age), rev in weekly.items():
        r = got[(cw, age)]
        cum = weekly.loc[cw].loc[:age].sum()
        users = sizes[pd.Timestamp(cw)]
        assert r["cohort_users"] == users
        assert abs(r["week_revenue"] - round(rev, 4)) < 1e-3
        assert abs(r["ltv_per_user"] - cum / users) < 1e-3, (cw, age)


def test_grouped_holt_matches_pure_python_replay(spark):
    from data_warehouse_co_healthy_spark.operators.temporal import (
        HOLT_1A,
        HOLT_1B,
        HOLT_A,
        HOLT_B,
        holt_forecast_by_nation,
    )

    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet",
                             columns=["o_custkey", "o_orderdate",
                                      "o_totalprice"])
    cust = pd.read_parquet(f"{SF_DIR}/customer.parquet",
                           columns=["c_custkey", "c_nationkey"])
    nat = pd.read_parquet(f"{SF_DIR}/nation.parquet",
                          columns=["n_nationkey", "n_name"])
    j = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    j = j.merge(nat, left_on="c_nationkey", right_on="n_nationkey")
    j["day"] = pd.to_datetime(j["o_orderdate"]).dt.strftime("%Y-%m-%d")
    daily = (
        j.groupby(["n_name", "day"])["o_totalprice"].sum().sort_index()
    )
    got = {
        (r["nation"], r["day"]): r
        for r in holt_forecast_by_nation(spark, SF_DIR).collect()
    }
    n_checked = 0
    for nation in daily.index.get_level_values(0).unique():
        ser = daily.loc[nation]
        ys = ser.to_numpy(dtype=np.float64)
        if len(ys) < 2:
            assert not any(k[0] == nation for k in got)
            continue
        lvl, trd = ys[0], ys[1] - ys[0]
        r0 = got[(nation, ser.index[0])]
        assert r0["forecast"] is None
        for day, y in zip(ser.index[1:], ys[1:]):
            fc = lvl + trd
            new_lvl = HOLT_A * y + HOLT_1A * (lvl + trd)
            trd = HOLT_B * (new_lvl - lvl) + HOLT_1B * trd
            lvl = new_lvl
            r = got[(nation, day)]
            assert abs(r["forecast"] - fc) < 1e-3, (nation, day)
            assert abs(r["level"] - lvl) < 1e-3
            n_checked += 1
    assert n_checked > 0 and n_checked + 25 >= len(got)


def test_dp_noisy_counts_matches_hashlib_laplace(spark):
    """Replays the md5-seeded Laplace draw with python hashlib + math
    (independent of both engines' md5/ln) and re-derives each noisy
    count from the TRUE pandas count."""
    import hashlib
    import math

    from data_warehouse_co_healthy_spark.operators.warehouse import (
        DP_EPS,
        dp_noisy_counts,
    )

    cust = pd.read_parquet(f"{SF_DIR}/customer.parquet",
                           columns=["c_nationkey", "c_mktsegment"])
    nat = pd.read_parquet(f"{SF_DIR}/nation.parquet",
                          columns=["n_nationkey", "n_name"])
    j = cust.merge(nat, left_on="c_nationkey", right_on="n_nationkey")
    true = j.groupby(["n_name", "c_mktsegment"]).size()
    got = {(r["nation"], r["segment"]): r
           for r in dp_noisy_counts(spark, SF_DIR).collect()}
    assert set(got) == set(true.index)
    for (nation, seg), n in true.items():
        u = int(
            hashlib.md5(f"{nation}|{seg}".encode()).hexdigest()[:8], 16
        ) / 4294967296.0
        v = u - 0.5
        noise = (
            -(1.0 / DP_EPS)
            * math.copysign(1.0, v)
            * math.log(max(1.0 - 2.0 * abs(v), 2.0 ** -32))
        )
        r = got[(nation, seg)]
        assert abs(r["noisy_count"] - (n + noise)) < 1e-3, (nation, seg)
        assert r["epsilon"] == DP_EPS


def test_did_matches_pandas_replay(spark):
    import hashlib

    from data_warehouse_co_healthy_spark.operators.aggregates import (
        DID_PRE_DAY,
        did_report,
    )

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet",
                         columns=["user_id", "ts", "event_type", "value"])
    ev["treated"] = ev["user_id"].map(
        lambda u: int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16)
        % 2 == 1
    )
    ev["post"] = pd.to_datetime(ev["ts"]).dt.day > DID_PRE_DAY
    got = {r["event_type"]: r for r in did_report(spark, SF_DIR).collect()}
    for et, grp in ev.groupby("event_type"):
        m = {
            (t, p): sub["value"].mean()
            for (t, p), sub in grp.groupby(["treated", "post"])
        }
        want = (m[(True, True)] - m[(True, False)]) - (
            m[(False, True)] - m[(False, False)]
        )
        r = got[et]
        assert r["n_treated"] == int(grp["treated"].sum())
        assert abs(r["did"] - want) < 1e-3, (et, r["did"], want)


def test_mann_kendall_matches_pure_python(spark):
    from data_warehouse_co_healthy_spark.operators.temporal import (
        mann_kendall_trend,
    )

    df = pd.read_parquet(f"{SF_DIR}/orders.parquet",
                         columns=["o_orderdate", "o_totalprice"])
    dt = pd.to_datetime(df["o_orderdate"])
    mi = dt.dt.year * 12 + dt.dt.month
    ys = df.groupby(mi)["o_totalprice"].sum().sort_index().to_numpy()
    n = len(ys)
    s = sum(
        np.sign(ys[j] - ys[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    # fixture revenues are continuous sums: no exact ties expected
    var = n * (n - 1) * (2 * n + 5) / 18.0
    z = (s - 1) / var**0.5 if s > 0 else ((s + 1) / var**0.5 if s < 0 else 0)
    r = mann_kendall_trend(spark, SF_DIR).collect()[0]
    assert r["n"] == n and r["s_stat"] == int(s)
    assert abs(r["z"] - z) < 1e-3


def test_holt_winters_matches_pure_python_replay(spark):
    from data_warehouse_co_healthy_spark.operators.temporal import (
        HW_1A,
        HW_1B,
        HW_1G,
        HW_A,
        HW_B,
        HW_G,
        HW_M,
        holt_winters_daily,
    )

    daily = _orders_daily()
    ys = daily.to_numpy(dtype=np.float64)
    days = [str(d) for d in daily.index]
    lvl = ys[HW_M - 1]
    trd = (ys[HW_M - 1] - ys[0]) / (HW_M - 1)
    s = [y - lvl for y in ys[:HW_M]]
    want = {}
    for i in range(HW_M, len(ys)):
        y = ys[i]
        s_m = s[0]
        fc = lvl + trd + s_m
        new_lvl = HW_A * (y - s_m) + HW_1A * (lvl + trd)
        trd = HW_B * (new_lvl - lvl) + HW_1B * trd
        new_s = HW_G * (y - new_lvl) + HW_1G * s_m
        lvl = new_lvl
        s = s[1:] + [new_s]
        want[days[i]] = (lvl, new_s, fc)

    got = holt_winters_daily(spark, SF_DIR).collect()
    assert len(got) == len(want)
    for r in got:
        wl, ws, wf = want[r["day"]]
        tol = 1e-6 * max(1.0, abs(wl))
        assert abs(r["level"] - wl) <= tol, r["day"]
        assert abs(r["seasonal"] - ws) <= 1e-4 * max(1.0, abs(wl))
        assert abs(r["forecast"] - wf) <= 1e-4 * max(1.0, abs(wf))


def test_conversion_latency_matches_pandas_replay(spark):
    from data_warehouse_co_healthy_spark.operators.temporal import (
        conversion_latency,
    )

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet",
                         columns=["user_id", "ts", "event_id",
                                  "event_type"])
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    gaps: dict[str, list[float]] = {}
    for _, grp in ev.groupby("user_id"):
        last_click = None
        for r in grp.itertuples():
            if r.event_type == "click":
                last_click = r.ts
            elif r.event_type == "purchase" and last_click is not None:
                day = r.ts.strftime("%Y-%m-%d")
                gaps.setdefault(day, []).append(
                    (r.ts - last_click).total_seconds()
                )
    got = {r["day"]: r for r in conversion_latency(spark, SF_DIR).collect()}
    assert set(got) == set(gaps)
    for day, gs in gaps.items():
        gs.sort()
        n = len(gs)
        med = (gs[(n - 1) // 2] + gs[n // 2]) / 2
        r = got[day]
        assert r["n_conversions"] == n
        assert abs(r["median_gap_s"] - med) < 1e-3, day


def test_funnel_windowed_matches_pandas_replay(spark):
    from data_warehouse_co_healthy_spark.operators.temporal import (
        FW_BUY_MIN,
        FW_CLICK_MIN,
        funnel_windowed,
    )

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet",
                         columns=["user_id", "ts", "event_type"])
    n_v = n_c = n_b = 0
    for _, grp in ev.groupby("user_id"):
        views = grp.loc[grp["event_type"] == "view", "ts"]
        if views.empty:
            continue
        n_v += 1
        tv = views.min()
        clicks = grp.loc[
            (grp["event_type"] == "click")
            & (grp["ts"] > tv)
            & (grp["ts"] <= tv + pd.Timedelta(minutes=FW_CLICK_MIN)),
            "ts",
        ]
        if clicks.empty:
            continue
        n_c += 1
        tc = clicks.min()
        buys = grp.loc[
            (grp["event_type"] == "purchase")
            & (grp["ts"] > tc)
            & (grp["ts"] <= tc + pd.Timedelta(minutes=FW_BUY_MIN)),
            "ts",
        ]
        if not buys.empty:
            n_b += 1
    r = funnel_windowed(spark, SF_DIR).collect()[0]
    assert (r["n_viewed"], r["n_clicked_in_window"],
            r["n_purchased_in_window"]) == (n_v, n_c, n_b)


def test_weighted_median_matches_numpy_replay(spark):
    from data_warehouse_co_healthy_spark.operators.aggregates import (
        weighted_median_by_group,
    )

    li = pd.read_parquet(
        f"{SF_DIR}/lineitem.parquet",
        columns=["l_returnflag", "l_extendedprice", "l_quantity",
                 "l_orderkey", "l_partkey"],
    )
    got = {
        r["l_returnflag"]: r
        for r in weighted_median_by_group(spark, SF_DIR).collect()
    }
    for flag, grp in li.groupby("l_returnflag"):
        grp = grp.sort_values(["l_extendedprice", "l_orderkey",
                               "l_partkey"])
        cw = grp["l_quantity"].cumsum()
        tot = grp["l_quantity"].sum()
        want = grp.loc[cw >= tot / 2, "l_extendedprice"].iloc[0]
        r = got[flag]
        assert abs(r["weighted_median"] - want) < 1e-4, flag
        assert abs(r["total_weight"] - tot) < 1e-6


def test_zipf_slope_matches_numpy_polyfit(spark):
    import re

    from data_warehouse_co_healthy_spark.llm.text import zipf_rank_slope

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet",
                           columns=["text"])
    toks = pd.Series(
        [w for t in docs["text"]
         for w in re.split(r"\s+", t.strip().lower())]
    )
    counts = toks.value_counts()
    xs = np.log(np.arange(1, len(counts) + 1, dtype=np.float64))
    ys = np.log(counts.to_numpy(dtype=np.float64))
    slope = np.polyfit(xs, ys, 1)[0]
    r = zipf_rank_slope(spark, SF_DIR).collect()[0]
    assert r["vocab_size"] == len(counts)
    assert abs(r["zipf_slope"] - slope) < 1e-3
    # direction only: the synthetic fixture is much flatter than real
    # text (slope ~ -0.18 vs Zipf's -1) — which is exactly the signal
    # the operator exists to surface
    assert r["zipf_slope"] < 0


def test_max_drawdown_matches_numpy_replay(spark):
    from data_warehouse_co_healthy_spark.operators.temporal import (
        max_drawdown,
    )

    ys = _orders_daily().to_numpy(dtype=np.float64)
    dd = (ys / np.maximum.accumulate(ys) - 1.0).min()
    r = max_drawdown(spark, SF_DIR).collect()[0]
    assert r["n_days"] == len(ys)
    assert abs(r["max_drawdown"] - dd) < 1e-4
    assert abs(r["peak_revenue"] - ys.max()) < 1e-2


def test_langid_confusion_diagonal_consistency(spark):
    """Cross-checks the confusion matrix against langid_heuristic's own
    per-doc output and pins that shares sum to 1 per true language."""
    from data_warehouse_co_healthy_spark.llm.text import (
        langid_confusion,
        langid_heuristic,
    )

    preds = {
        r["doc_id"]: r["pred_lang"]
        for r in langid_heuristic(spark, SF_DIR).collect()
    }
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet",
                           columns=["doc_id", "lang"])
    want: dict[tuple[str, str], int] = {}
    for r in docs.itertuples():
        k = (r.lang, preds[r.doc_id])
        want[k] = want.get(k, 0) + 1
    rows = langid_confusion(spark, SF_DIR).collect()
    got = {(r["true_lang"], r["pred_lang"]): r["n"] for r in rows}
    assert got == want
    by_true: dict[str, float] = {}
    for r in rows:
        by_true[r["true_lang"]] = (
            by_true.get(r["true_lang"], 0.0) + r["share_of_true"]
        )
    assert all(abs(s - 1.0) < 1e-4 for s in by_true.values())


def test_clamped_balance_matches_pandas_replay(spark):
    from data_warehouse_co_healthy_spark.operators.temporal import (
        CRB_BURN,
        clamped_running_balance,
    )

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet",
                         columns=["user_id", "ts", "event_id",
                                  "event_type", "value"])
    ev = ev.sort_values(["user_id", "ts", "event_id"])
    want = {}
    for uid, grp in ev.groupby("user_id"):
        bal = 0.0
        for r in grp.itertuples():
            delta = r.value if r.event_type == "purchase" else -CRB_BURN
            bal = max(0.0, bal + delta)
            want[(uid, r.event_id)] = (round(delta, 4), round(bal, 4))
    rows = clamped_running_balance(spark, SF_DIR).collect()
    assert len(rows) == len(want)
    for r in rows:
        wd, wb = want[(r["user_id"], r["event_id"])]
        assert abs(r["delta"] - wd) < 1e-6
        assert abs(r["balance"] - wb) < 1e-6, (r["user_id"], r["event_id"])
    # the clamp must actually bind somewhere, else this tests a cumsum
    assert any(b == 0.0 for _, b in want.values())


def test_table_checksum_matches_hashlib_and_detects_mutation(spark):
    import hashlib

    from data_warehouse_co_healthy_spark.operators.warehouse import (
        table_checksum,
    )

    orders = pd.read_parquet(
        f"{SF_DIR}/orders.parquet",
        columns=["o_orderkey", "o_custkey", "o_orderstatus",
                 "o_orderpriority"],
    )
    total = 0
    for r in orders.itertuples():
        s = f"{r.o_orderkey}|{r.o_custkey}|{r.o_orderstatus}|" \
            f"{r.o_orderpriority}"
        total += int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
    got = table_checksum(spark, SF_DIR).collect()[0]
    assert got["n_rows"] == len(orders)
    assert got["checksum"] == str(total)


def test_degenerate_input_guards(spark, tmp_path):
    """Pins the ANSI-survival guards the review demanded: single-class
    sources (KS), constant-rank groups (Spearman), one-event DiD cells,
    and NULL purchase values (clamped balance) must degrade to dropped
    rows / zero credit — never divide-by-zero or NaN-poison."""
    import datetime

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, "aa bb", "en", "s_onlyen", 5),
         (2, "cc dd", "en", "s_onlyen", 7),
         (3, "ee ff", "en", "s_mixed", 5),
         (4, "gg hh", "de", "s_mixed", 9)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.parquet(f"{sf}/documents.parquet")
    spark.createDataFrame(
        [("A", 10.0, 10.0, 1, 1), ("A", 10.0, 10.0, 2, 2),
         ("B", 10.0, 11.0, 3, 3), ("B", 20.0, 12.0, 4, 4),
         ("B", 30.0, 13.0, 5, 5)],
        "l_returnflag string, l_quantity double, l_extendedprice "
        "double, l_orderkey long, l_partkey long",
    ).write.parquet(f"{sf}/lineitem.parquet")
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        # user 1 (arm depends on md5; values chosen so every
        # event_type has a tiny cell) + a NULL purchase value
        (1, t0, 1, "purchase", None),
        (1, t0 + datetime.timedelta(hours=1), 2, "click", 5.0),
        (2, t0 + datetime.timedelta(days=20), 3, "purchase", 10.0),
    ]
    spark.createDataFrame(
        rows,
        "user_id long, ts timestamp, event_id long, event_type "
        "string, value double",
    ).write.parquet(f"{sf}/events.parquet")

    from data_warehouse_co_healthy_spark.llm.text import ks_two_sample
    from data_warehouse_co_healthy_spark.operators.aggregates import (
        ab_test_report,
        did_report,
        hill_tail_index,
        spearman_by_group,
    )
    from data_warehouse_co_healthy_spark.operators.temporal import (
        clamped_running_balance,
        cusum_changepoints,
    )

    ks = {r["source"] for r in ks_two_sample(spark, sf).collect()}
    assert ks == {"s_mixed"}  # single-class source dropped, no throw

    sp = {r["l_returnflag"] for r in spearman_by_group(spark, sf).collect()}
    assert sp == {"B"}  # constant-quantity group dropped, no throw

    assert did_report(spark, sf).count() == 0  # all cells ≤ 1 → dropped

    # size-1 arms (purchase: 1 event per arm at best; click: 1 event
    # total) must be dropped BEFORE the (n−1) variance division
    assert ab_test_report(spark, sf).count() == 0

    # constant daily revenue (102 days × one equal-price order): std=0
    # → cusum z undefined → empty, not inf/NaN rows; equal spends →
    # top-HILL_K all tie with x_(k+1) → mean log-ratio 0 → NULL alpha
    import datetime as _dt
    spark.createDataFrame(
        [(i, i, _dt.date(2024, 1, 1) + _dt.timedelta(days=i), 100.0)
         for i in range(102)],
        "o_orderkey long, o_custkey long, o_orderdate date, "
        "o_totalprice double",
    ).write.parquet(f"{sf}/orders.parquet")
    assert cusum_changepoints(spark, sf).count() == 0
    hill = hill_tail_index(spark, sf).collect()[0]
    assert hill["k"] == 100 and hill["hill_alpha"] is None

    bal = {
        (r["user_id"], r["event_id"]): r["balance"]
        for r in clamped_running_balance(spark, sf).collect()
    }
    # NULL purchase credits 0; the later click burns and clamps at 0
    assert bal[(1, 1)] == 0.0 and bal[(1, 2)] == 0.0
    assert bal[(2, 3)] == 10.0


def test_hill_matches_numpy_replay(spark):
    from data_warehouse_co_healthy_spark.operators.aggregates import (
        HILL_K,
        hill_tail_index,
    )

    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet",
                             columns=["o_custkey", "o_totalprice"])
    spend = orders.groupby("o_custkey")["o_totalprice"].sum()
    xs = np.sort(spend.to_numpy(dtype=np.float64))[::-1]
    want = 1.0 / np.mean(np.log(xs[:HILL_K] / xs[HILL_K]))
    r = hill_tail_index(spark, SF_DIR).collect()[0]
    assert r["k"] == HILL_K
    assert abs(r["hill_alpha"] - want) < 1e-3
    assert r["hill_alpha"] > 0


def test_burstiness_matches_pandas_replay(spark):
    from data_warehouse_co_healthy_spark.operators.temporal import (
        burstiness_by_type,
    )

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet",
                         columns=["event_type", "user_id", "ts",
                                  "event_id"])
    ev = ev.sort_values(["event_type", "user_id", "ts", "event_id"])
    got = {r["event_type"]: r
           for r in burstiness_by_type(spark, SF_DIR).collect()}
    for et, grp in ev.groupby("event_type"):
        gaps = []
        for _, ugrp in grp.groupby("user_id"):
            ts = pd.to_datetime(ugrp["ts"]).astype("int64") // 1000
            gaps.extend(np.diff(ts.to_numpy()))
        if len(gaps) <= 1:
            assert et not in got
            continue
        gaps = np.asarray(gaps, dtype=np.float64)
        mu, sg = gaps.mean(), gaps.std(ddof=1)
        r = got[et]
        assert r["n_gaps"] == len(gaps)
        assert abs(r["burstiness"] - (sg - mu) / (sg + mu)) < 1e-4, et
        assert -1.0 <= r["burstiness"] <= 1.0


def test_clamped_window_equals_step_recursion(spark):
    """The Lindley reflection closed form (all-window JVM path) must
    equal the explicit step recursion to float tolerance."""
    from data_warehouse_co_healthy_spark.operators.temporal import (
        clamped_balance_window,
        clamped_running_balance,
    )

    a = {
        (r["user_id"], r["event_id"]): r["balance"]
        for r in clamped_balance_window(spark, SF_DIR).collect()
    }
    b = {
        (r["user_id"], r["event_id"]): r["balance"]
        for r in clamped_running_balance(spark, SF_DIR).collect()
    }
    assert a.keys() == b.keys()
    # both outputs are quantized to 4 dp, and the two constructions
    # differ by ulps in RAW space — so the honest tolerance is one
    # rounding quantum, not 1e-6 (a raw ulp landing on a x.xxxx5
    # boundary legitimately flips the last digit)
    assert all(abs(a[k] - b[k]) <= 1e-4 + 1e-9 for k in a)


def test_sampling_ess_matches_numpy_kish(spark):
    import re

    from data_warehouse_co_healthy_spark.llm.filters import (
        TEMP_ALPHA,
        sampling_ess,
    )

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet",
                           columns=["source", "text"])
    # NULL-safe + dropna=False: the engine counts NULL text as empty
    # and Spark's groupBy keeps a NULL-source group pandas would drop
    toks = docs["text"].map(
        lambda t: len(re.split(r"\s+", (t or "").strip()))
    )
    per = pd.DataFrame({"source": docs["source"], "t": toks}).groupby(
        "source", dropna=False
    ).agg(n_docs=("t", "size"), n_toks=("t", "sum"))
    share = per["n_toks"] / per["n_toks"].sum()
    raw = share**TEMP_ALPHA
    m = (raw / raw.sum()) / share
    w = np.repeat(m.to_numpy(), per["n_docs"].to_numpy())
    want = w.sum() ** 2 / (w**2).sum()
    r = sampling_ess(spark, SF_DIR).collect()[0]
    assert r["n_docs"] == len(docs)
    assert abs(r["ess"] - want) < 1e-2
    assert 0 < r["ess_ratio"] <= 1.0 + 1e-9
