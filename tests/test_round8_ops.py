"""Round-8 operators: jackknife ratio CI (C104/q256), James-Stein
shrinkage (C105/q257), interrupted time series (C106/q258), and MMR
diversified top-k (C107/q259) — numpy parity on the exact integer
conventions plus the degenerate-input NULL/guard contracts."""

import datetime
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# jackknife ratio CI
# ---------------------------------------------------------------------------


def _jk_reference(arm, bucket, cents, n_buckets):
    """Exact-integer reference of the documented math."""
    out = {}
    for a in sorted(set(arm)):
        m = [i for i in range(len(arm)) if arm[i] == a]
        S = sum(cents[i] for i in m)
        N = len(m)
        q = []
        for j in range(n_buckets):
            mj = [i for i in m if bucket[i] == j]
            if not mj or N == len(mj):
                if mj:
                    pass  # whole-sample bucket: dropped by contract
                continue
            sj = sum(cents[i] for i in mj)
            q.append(int(math.floor((S - sj) / (N - len(mj)) * (1 << 20))))
        B = len(q)
        se = None
        if B >= 2:
            sq, sqq = sum(q), sum(x * x for x in q)
            se = math.sqrt(float(B * sqq - sq * sq) * (B - 1) / (B * B) / (1 << 40))
        out[a] = (B, N, S / N, se)
    return out


def test_jackknife_ratio_matches_exact_integer_reference(spark):
    from patternly_spark.operators.drift import jackknife_ratio_ci

    rng = np.random.default_rng(11)
    n = 4000
    arm = rng.integers(0, 2, n).tolist()
    bucket = rng.integers(0, 12, n).tolist()
    cents = rng.integers(1, 60000, n).tolist()
    df = spark.createDataFrame(
        pd.DataFrame({"arm": arm, "bucket": bucket, "cents": cents})
    )
    got = {
        r["arm"]: r
        for r in jackknife_ratio_ci(
            df, "cents", arm_col="arm", bucket_col="bucket"
        ).collect()
    }
    ref = _jk_reference(arm, bucket, cents, 12)
    for a, (B, N, ratio, se) in ref.items():
        r = got[a]
        assert r["n_buckets"] == B and r["n"] == N
        assert r["ratio"] == ratio
        assert r["jk_se"] == se  # bit-exact: same integer chains
        assert r["ci_lo"] == ratio - 1.96 * se
        assert r["ci_hi"] == ratio + 1.96 * se


def test_jackknife_single_bucket_null_se(spark):
    """One bucket per arm -> its leave-one-out ratio does not exist
    (whole sample), so B = 0 < 2 and se/ci are NULL, never NaN."""
    from patternly_spark.operators.drift import jackknife_ratio_ci

    df = spark.createDataFrame(
        pd.DataFrame({"arm": [0, 0, 0], "bucket": [5, 5, 5], "cents": [10, 20, 30]})
    )
    row = jackknife_ratio_ci(df, "cents", arm_col="arm", bucket_col="bucket").collect()[0]
    assert row["n_buckets"] == 0
    assert row["ratio"] == 20.0
    assert row["jk_se"] is None and row["ci_lo"] is None and row["ci_hi"] is None


def test_jackknife_two_buckets_se_defined(spark):
    from patternly_spark.operators.drift import jackknife_ratio_ci

    df = spark.createDataFrame(
        pd.DataFrame(
            {"arm": [0, 0, 0, 0], "bucket": [0, 0, 1, 1], "cents": [10, 20, 40, 50]}
        )
    )
    row = jackknife_ratio_ci(df, "cents", arm_col="arm", bucket_col="bucket").collect()[0]
    assert row["n_buckets"] == 2
    # r_(-0) = 90/2 = 45, r_(-1) = 30/2 = 15 (exactly representable)
    q0, q1 = 45 * (1 << 20), 15 * (1 << 20)
    B, sq, sqq = 2, q0 + q1, q0 * q0 + q1 * q1
    exp = math.sqrt(float(B * sqq - sq * sq) * 1 / 4 / (1 << 40))
    assert row["jk_se"] == exp == 15.0


# ---------------------------------------------------------------------------
# James-Stein shrinkage
# ---------------------------------------------------------------------------


def test_james_stein_matches_reference_and_bounds(spark):
    from patternly_spark.operators.drift import james_stein_shrinkage

    rng = np.random.default_rng(13)
    n = 6000
    grp = rng.integers(0, 30, n)
    cents = (rng.normal(20000, 3000, n) + grp * 150).astype(int)
    df = spark.createDataFrame(pd.DataFrame({"g": grp, "cents": cents}))
    rows = james_stein_shrinkage(df, "cents", group_col="g").collect()
    k, N, S = 30, n, int(cents.sum())
    mu = S / N
    ssw = ssb = 0
    stats = {}
    for g in range(30):
        m = grp == g
        ng, s = int(m.sum()), int(cents[m].sum())
        ss = sum(int(c) * int(c) for c in cents[m])
        stats[g] = (ng, s / ng)
        ssw += math.floor(float(ng * ss - s * s) / ng / 65536.0)
        ssb += math.floor(ng * (s / ng - mu) ** 2 / 65536.0)
    sigma2 = ssw * 65536.0 / (N - k)
    c = float(N * N - sum(v[0] * v[0] for v in stats.values())) / N
    tau2 = max(0.0, (ssb * 65536.0 - (k - 1) * sigma2) / c)
    for r in rows:
        ng, mean_g = stats[r["group"]]
        noise = sigma2 / ng
        sh = noise / (noise + tau2)
        assert r["n"] == ng
        assert r["mean_raw"] == mean_g
        assert r["shrink_c"] == sh
        assert r["mean_shrunk"] == mu + (1 - sh) * (mean_g - mu)
        assert 0.0 <= r["shrink_c"] <= 1.0
        # shrunk mean lies between the raw mean and the grand mean
        lo, hi = min(mean_g, mu), max(mean_g, mu)
        assert lo - 1e-9 <= r["mean_shrunk"] <= hi + 1e-9


def test_james_stein_small_groups_shrink_harder(spark):
    from patternly_spark.operators.drift import james_stein_shrinkage

    rng = np.random.default_rng(17)
    rows = []
    for g, ng in [(0, 2000), (1, 10)]:
        vals = rng.normal(10000 + 2000 * g, 500, ng).astype(int)
        rows += [(g, int(v)) for v in vals]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["g", "cents"]))
    got = {r["group"]: r for r in james_stein_shrinkage(df, "cents", group_col="g").collect()}
    assert got[1]["shrink_c"] > got[0]["shrink_c"]


def test_james_stein_all_identical_values(spark):
    """sigma2 == tau2 == 0: c = 0 by convention and shrunk == mean == mu."""
    from patternly_spark.operators.drift import james_stein_shrinkage

    df = spark.createDataFrame(
        pd.DataFrame({"g": [0, 0, 1, 1], "cents": [500, 500, 500, 500]})
    )
    for r in james_stein_shrinkage(df, "cents", group_col="g").collect():
        assert r["shrink_c"] == 0.0
        assert r["mean_shrunk"] == 500.0


# ---------------------------------------------------------------------------
# interrupted time series
# ---------------------------------------------------------------------------


def _mk_ts(day, minute=0):
    return datetime.datetime(1970, 1, 1) + datetime.timedelta(days=day, minutes=minute)


def test_its_recovers_planted_break(spark):
    """Plant a level jump + slope change at an explicit break; daily
    totals are noise-free, so the OLS lines are exact."""
    from patternly_spark.operators.temporal import interrupted_time_series

    rows = []
    for d in range(100):
        y = 1000 + 5 * d if d < 50 else 3000 + 12 * d
        rows.append((_mk_ts(d), int(y)))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["ts", "cents"]))
    r = interrupted_time_series(
        df, ts_col="ts", value_cents_col="cents", break_day=50
    ).collect()[0]
    assert r["break_day"] == 50
    assert r["n_pre"] == 50 and r["n_post"] == 50
    assert abs(r["pre_slope"] - 5.0) < 1e-9
    assert abs(r["post_slope"] - 12.0) < 1e-9
    assert abs(r["slope_change"] - 7.0) < 1e-9
    # level at d=50: post (3000+600) - pre (1000+250) = 2350
    assert abs(r["level_change"] - 2350.0) < 1e-9


def test_its_numpy_parity_default_break(spark):
    from patternly_spark.operators.temporal import interrupted_time_series

    rng = np.random.default_rng(19)
    n = 2000
    rows = [
        (_mk_ts(int(d), int(m)), int(c))
        for d, m, c in zip(
            rng.integers(0, 80, n), rng.integers(0, 1440, n), rng.integers(1, 9999, n)
        )
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["ts", "cents"]))
    r = interrupted_time_series(df, ts_col="ts", value_cents_col="cents").collect()[0]
    daily = {}
    for ts, c in rows:
        d = int(ts.replace(tzinfo=datetime.timezone.utc).timestamp()) // 86400
        daily[d] = daily.get(d, 0) + c
    ds = sorted(daily)
    t0 = (ds[0] + ds[-1] + 1) // 2
    assert r["break_day"] == t0

    def fit(sel):
        nn = len(sel)
        Sd = sum(d for d in sel)
        Sy = sum(daily[d] for d in sel)
        Sdd = sum(d * d for d in sel)
        Sdy = sum(d * daily[d] for d in sel)
        sl = float(nn * Sdy - Sd * Sy) / float(nn * Sdd - Sd * Sd)
        return sl, (float(Sy) - sl * float(Sd)) / nn

    b0, a0 = fit([d for d in ds if d < t0])
    b1, a1 = fit([d for d in ds if d >= t0])
    assert r["pre_slope"] == b0 and r["post_slope"] == b1
    assert r["slope_change"] == b1 - b0
    assert r["level_change"] == (a1 + b1 * float(t0)) - (a0 + b0 * float(t0))


def test_its_degenerate_single_day_segment(spark):
    """A 1-day segment has no slope: NULLs, never a division artifact."""
    from patternly_spark.operators.temporal import interrupted_time_series

    rows = [(_mk_ts(0), 100), (_mk_ts(1), 200), (_mk_ts(2), 300)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["ts", "cents"]))
    r = interrupted_time_series(
        df, ts_col="ts", value_cents_col="cents", break_day=2
    ).collect()[0]
    assert r["n_post"] == 1
    assert r["post_slope"] is None
    assert r["slope_change"] is None and r["level_change"] is None
    assert r["pre_slope"] == 100.0


# ---------------------------------------------------------------------------
# MMR re-rank
# ---------------------------------------------------------------------------


def _seqdot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _cosq(a, b):
    return int(
        np.floor(_seqdot(a, b) / (math.sqrt(_seqdot(a, a)) * math.sqrt(_seqdot(b, b))) * (1 << 20))
    )


def _mmr_reference(V, qids, k, pool, lam):
    out = []
    n = len(V)
    for qi in qids:
        rels = sorted(
            ((_cosq(V[c], V[qi]), c) for c in range(n) if c != qi),
            key=lambda t: (-t[0], t[1]),
        )[:pool]
        relmap = {c: r for r, c in rels}
        sel = []
        for step in range(1, k + 1):
            best = None
            for c, r in relmap.items():
                if c in (s[0] for s in sel):
                    continue
                if step == 1:
                    score = lam * r
                else:
                    score = lam * r - (10 - lam) * max(
                        _cosq(V[c], V[s[0]]) for s in sel
                    )
                if best is None or score > best[1] or (score == best[1] and c < best[0]):
                    best = (c, score)
            sel.append(best)
            out.append((qi, step, best[0], best[1]))
    return out


def test_mmr_matches_greedy_reference(spark):
    from patternly_spark.operators.similarity import mmr_rerank

    rng = np.random.default_rng(23)
    n, d = 120, 12
    V = rng.normal(size=(n, d))
    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(n), "embedding": [list(map(float, v)) for v in V]}
        )
    )
    got = sorted(
        (r["query_id"], r["rank"], r["cand_id"], r["score_q"])
        for r in mmr_rerank(df, df.filter("vec_id < 3"), k=5, pool=9).collect()
    )
    exp = sorted(_mmr_reference(V, [0, 1, 2], 5, 9, 7))
    assert got == exp
    # the two-phase pool cut (per-partition pre-cut before the global
    # window — the skew fix) is partitioning-invariant: any corpus
    # layout yields the identical selection
    for parts in (1, 7, 32):
        again = sorted(
            (r["query_id"], r["rank"], r["cand_id"], r["score_q"])
            for r in mmr_rerank(
                df.repartition(parts), df.filter("vec_id < 3"), k=5, pool=9
            ).collect()
        )
        assert again == exp, parts


def test_mmr_diversifies_vs_plain_topk(spark):
    """Three planted near-duplicate clusters: plain top-3 returns one
    cluster three times; MMR's 3 slots cover all three clusters."""
    from patternly_spark.operators.similarity import mmr_rerank

    rng = np.random.default_rng(29)
    d = 16
    centroids = rng.normal(size=(3, d)) * 3
    vecs, labels = [], []
    q = centroids.mean(axis=0) + centroids[0] * 0.3  # closest to cluster 0
    vecs.append(q)
    labels.append(-1)
    for cl in range(3):
        for _ in range(4):
            vecs.append(centroids[cl] + rng.normal(scale=0.05, size=d))
            labels.append(cl)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": range(len(vecs)),
                "embedding": [list(map(float, v)) for v in vecs],
            }
        )
    )
    out = mmr_rerank(
        df, df.filter("vec_id = 0"), k=3, pool=12, lam_tenths=5
    ).collect()
    picked_clusters = {labels[r["cand_id"]] for r in out}
    assert len(picked_clusters) == 3


def test_mmr_rejects_bad_lambda(spark):
    from patternly_spark.operators.similarity import mmr_rerank

    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0], "embedding": [[1.0, 0.0]]})
    )
    with pytest.raises(ValueError):
        mmr_rerank(df, df, k=1, pool=2, lam_tenths=11)


# ---------------------------------------------------------------------------
# ST38: streaming jackknife registry — union parity + additive fold
# ---------------------------------------------------------------------------


def test_streaming_jackknife_union_parity(spark, tmp_path):
    """Finalize over the folded registry == batch jackknife_ratio_ci
    over the union of all batches (tuple-exact), with rows of the same
    bucket arriving across different triggers."""
    from patternly_spark.operators.drift import jackknife_ratio_ci
    from patternly_spark.streaming.drift import (
        jackknife_from_registry,
        streaming_jackknife_registry,
    )

    rows = [
        ("a" if i % 2 == 0 else "b", i % 5, 100 + 17 * i) for i in range(60)
    ]
    schema = "arm string, bucket long, cents long"
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    # interleave so every bucket spans all three triggers
    for b in [rows[0::3], rows[1::3], rows[2::3]]:
        spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(src)

    q = streaming_jackknife_registry(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        str(tmp_path / "reg"),
        checkpoint_path=str(tmp_path / "ckpt"),
        arm_col="arm",
        bucket_col="bucket",
        value_cents_col="cents",
        trigger_once=True,
    )
    q.awaitTermination(120)

    got = sorted(
        map(tuple, jackknife_from_registry(spark, str(tmp_path / "reg")).collect())
    )
    want = sorted(
        map(
            tuple,
            jackknife_ratio_ci(
                df, "cents", arm_col="arm", bucket_col="bucket"
            ).collect(),
        )
    )
    assert got == want


# ---------------------------------------------------------------------------
# ST39: streaming ITS registry — union parity with readout-time break
# ---------------------------------------------------------------------------


def test_streaming_its_union_parity(spark, tmp_path):
    """Finalize over the folded daily registry == batch
    interrupted_time_series over the union (tuple-exact), with the same
    day's rows arriving across different triggers and the break chosen
    at readout time."""
    from patternly_spark.operators.temporal import interrupted_time_series
    from patternly_spark.streaming.temporal import (
        its_from_registry,
        streaming_its_registry,
    )

    rng = np.random.default_rng(31)
    rows = [
        (_mk_ts(int(d), int(m)), int(c))
        for d, m, c in zip(
            rng.integers(0, 40, 300), rng.integers(0, 1440, 300), rng.integers(1, 5000, 300)
        )
    ]
    schema = "ts timestamp, cents long"
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["ts", "cents"]))
    src = str(tmp_path / "src")
    for b in [rows[0::3], rows[1::3], rows[2::3]]:
        spark.createDataFrame(pd.DataFrame(b, columns=["ts", "cents"])).coalesce(
            1
        ).write.mode("append").parquet(src)

    q = streaming_its_registry(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        str(tmp_path / "reg"),
        checkpoint_path=str(tmp_path / "ckpt"),
        ts_col="ts",
        value_cents_col="cents",
        trigger_once=True,
    )
    q.awaitTermination(120)

    for bd in [None, 25]:
        got = its_from_registry(spark, str(tmp_path / "reg"), break_day=bd).collect()
        want = interrupted_time_series(
            df, ts_col="ts", value_cents_col="cents", break_day=bd
        ).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]


# ---------------------------------------------------------------------------
# C108: normal_sf_q + O'Brien-Fleming sequential monitor
# ---------------------------------------------------------------------------


def test_normal_sf_q_accuracy_and_symmetry(spark):
    """Against math.erfc ground truth: A&S error (<7.5e-8) plus the
    2^-20 phi quantization (<1.3 * 2^-20 * poly) stays under 3e-6; the
    negative branch is the exact complement."""
    from patternly_spark.operators.drift import normal_sf_q

    zs = [-4.0, -2.5758, -1.96, -1.0, -0.1, 0.0, 0.1, 1.0, 1.645, 1.96, 2.5758, 4.0]
    df = spark.createDataFrame(pd.DataFrame({"z": zs}))
    got = {r["z"]: r["sf"] for r in df.select("z", normal_sf_q(F.col("z")).alias("sf")).collect()}
    for z in zs:
        true = 0.5 * math.erfc(z / math.sqrt(2))
        assert abs(got[z] - true) < 3e-6, (z, got[z], true)
    for z in (0.1, 1.0, 1.96):
        assert got[-z] == 1.0 - got[z]


def test_obf_monitor_crossing_and_guards(spark):
    """A planted effect crosses at the late look; the boundary is
    monotone decreasing; a single-row look yields NULL z, never NaN."""
    from patternly_spark.operators.drift import obf_sequential_monitor

    rng = np.random.default_rng(43)
    rows = []
    for look in range(1, 5):
        # effect only materializes in looks 3-4
        for arm in (0, 1):
            eff = 1500 if (arm == 1 and look >= 3) else 0
            vals = rng.normal(20000 + eff, 4000, 600).astype(int)
            rows += [(look, arm, int(v)) for v in vals]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["look", "arm", "cents"]))
    out = obf_sequential_monitor(
        df, "cents", arm_col="arm", look_col="look", obf_constant=2.0
    ).collect()
    bounds = [r["boundary"] for r in out]
    assert bounds == sorted(bounds, reverse=True)
    assert not out[0]["crossed"] and out[-1]["crossed"]
    assert abs(out[-1]["info_frac"] - 1.0) < 1e-12

    # degenerate: one arm has a single row in look 1 -> NULL z there
    tiny = spark.createDataFrame(
        pd.DataFrame(
            {"look": [1, 1, 2, 2, 2, 2], "arm": [0, 1, 0, 0, 1, 1],
             "cents": [100, 200, 110, 130, 220, 260]}
        )
    )
    t = obf_sequential_monitor(tiny, "cents", arm_col="arm", look_col="look").collect()
    assert t[0]["z"] is None and not math.isnan(t[1]["z"])


def test_obf_monitor_two_arm_validation(spark):
    from patternly_spark.operators.drift import obf_sequential_monitor

    df = spark.createDataFrame(
        pd.DataFrame({"look": [1, 1, 1], "arm": [0, 1, 2], "cents": [1, 2, 3]})
    )
    with pytest.raises(ValueError):
        obf_sequential_monitor(df, "cents", arm_col="arm", look_col="look")


# ---------------------------------------------------------------------------
# IPW ATE (q261)
# ---------------------------------------------------------------------------


def _sigmoid(v):
    return 1.0 / (1.0 + np.exp(-v))


def test_ipw_ate_matches_numpy_reference(spark):
    """Same betas -> the IPW/Hajek chain equals a numpy reference at
    rel 1e-8; and with a planted confounder the IPW estimate lands
    materially closer to the true effect than the naive difference."""
    from patternly_spark.operators.model_eval import ipw_ate, logistic_regression

    rng = np.random.default_rng(47)
    n = 8000
    x = rng.normal(0, 1, n)
    p_treat = _sigmoid(1.2 * x)  # confounded assignment
    t = (rng.random(n) < p_treat).astype(int)
    true_effect = 500.0
    y = (10000 + 3000 * x + true_effect * t + rng.normal(0, 500, n)).astype(int)
    df = spark.createDataFrame(pd.DataFrame({"t": t, "y": y, "x": x}))

    out = ipw_ate(
        df, treat_col="t", outcome_cents_col="y", feature_cols=["x"]
    ).collect()[0]

    betas = {
        r["feature"]: r["beta"]
        for r in logistic_regression(df, label_col="t", feature_cols=["x"]).collect()
    }
    e = _sigmoid(betas["__intercept"] + betas["x"] * x)
    e = np.clip(e, 0.01, 0.99)
    w_t, w_c = t / e, (1 - t) / (1 - e)
    ref_ate = (w_t @ y) / w_t.sum() - (w_c @ y) / w_c.sum()
    assert abs(out["ate_cents"] - ref_ate) / abs(ref_ate) < 1e-8
    assert out["n_treated"] == int(t.sum())
    assert abs(out["ess_treated"] - w_t.sum() ** 2 / (w_t @ w_t)) / out["ess_treated"] < 1e-8

    naive = y[t == 1].mean() - y[t == 0].mean()
    assert abs(naive - true_effect) > 3 * abs(out["ate_cents"] - true_effect)


def test_ipw_ate_rejects_bad_clip(spark):
    from patternly_spark.operators.model_eval import ipw_ate

    df = spark.createDataFrame(pd.DataFrame({"t": [0, 1], "y": [1, 2], "x": [0.0, 1.0]}))
    with pytest.raises(ValueError):
        ipw_ate(df, treat_col="t", outcome_cents_col="y", feature_cols=["x"], clip=(0.5, 0.4))


# ---------------------------------------------------------------------------
# bench.py compact tail line: must survive the harness's 2000-byte window
# ---------------------------------------------------------------------------


def test_bench_compact_line_fits_and_parses():
    import json
    import sys as _sys

    _sys.path.insert(0, "/root/repo")
    import bench

    timings = {n: i * 0.37 for i, n in enumerate(bench.BENCH_QUERIES)}
    timings.update({n: 1.0 for n in bench.BENCH_BUDGETED})
    out = {
        "metric": "headline_queries_total_wall",
        "value": 222.0,
        "unit": "sec",
        "sf": 0.1,
        "queries": timings,
        "regressions": {},
    }
    line = bench.compact_line(out)
    assert len(line) <= 1900
    d = json.loads(line)
    assert d["n_queries"] == len(timings)
    assert d["value"] == 222.0
    # the headline is the computed set (driver-gate queries, budgeted
    # iterative entries, heavy data-path additions), in that order; a
    # budget elision may only drop entries from its tail, and says so
    headline = list(dict.fromkeys(
        n
        for n in bench.BENCH_QUERIES[:40] + list(bench.BENCH_BUDGETED) + bench.BENCH_HEADLINE_EXTRA
        if n in timings
    ))
    assert 0 < len(d["queries"]) <= len(headline)
    assert list(d["queries"]) == headline[: len(d["queries"])]
    if len(d["queries"]) < len(headline):
        assert d["queries_elided"] == len(timings) - len(d["queries"])
    # a pathological run with huge regressions still fits (queries give way)
    out["regressions"] = {
        n: {"sec": 9.99, "pin": 1.0} for n in bench.BENCH_QUERIES[:30]
    }
    line2 = bench.compact_line(out)
    assert len(line2) <= 1900
    json.loads(line2)


# ---------------------------------------------------------------------------
# C110-C112: delta-method ratio CI, post-stratification, mSPRT
# ---------------------------------------------------------------------------


def test_delta_method_agrees_with_jackknife(spark):
    """Same ratio metric, same units: the closed-form delta SE and the
    delete-one-bucket jackknife SE should land within ~15% of each
    other on well-behaved data (they estimate the same quantity)."""
    from patternly_spark.operators.drift import (
        delta_method_ratio_ci,
        jackknife_ratio_ci,
    )

    rng = np.random.default_rng(53)
    n_units = 600
    rows = []
    for u in range(n_units):
        k = rng.integers(1, 8)
        for _ in range(k):
            rows.append((0, u, int(rng.normal(20000, 4000))))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["arm", "unit", "cents"]))
    delta = delta_method_ratio_ci(
        df.withColumn("one", F.lit(1)), "cents", "one", arm_col="arm", unit_col="unit"
    ).collect()[0]
    # delete-one-UNIT jackknife is asymptotically the delta method:
    # they agree to a fraction of a percent (measured 0.13% here).  A
    # coarse-bucket jackknife (B=20) is a far noisier variance
    # estimator (~1/sqrt(2(B-1)) relative) — only a loose band holds.
    jk_unit = jackknife_ratio_ci(
        df, "cents", arm_col="arm", bucket_col="unit"
    ).collect()[0]
    assert delta["ratio"] == jk_unit["ratio"]
    assert abs(delta["se"] - jk_unit["jk_se"]) / jk_unit["jk_se"] < 0.02
    jk20 = jackknife_ratio_ci(
        df.withColumn("bucket", F.col("unit") % 20),
        "cents",
        arm_col="arm",
        bucket_col="bucket",
    ).collect()[0]
    assert abs(delta["se"] - jk20["jk_se"]) / jk20["jk_se"] < 0.5
    # numpy reference of the delta chain itself (exact)
    xs, ys = {}, {}
    for _, u, c in rows:
        xs[u] = xs.get(u, 0) + c
        ys[u] = ys.get(u, 0) + 1
    xv = np.array([xs[u] for u in sorted(xs)], dtype=object)
    yv = np.array([ys[u] for u in sorted(ys)], dtype=object)
    n = len(xv)
    sx, sy = int(sum(xv)), int(sum(yv))
    R = sx / sy
    cxx = float(n * sum(int(a) * int(a) for a in xv) - sx * sx) / (n * n)
    cxy = float(n * sum(int(a) * int(b) for a, b in zip(xv, yv)) - sx * sy) / (n * n)
    cyy = float(n * sum(int(b) * int(b) for b in yv) - sy * sy) / (n * n)
    ybar = sy / n
    se = ((cxx - 2 * R * cxy + R * R * cyy) / (n * ybar * ybar)) ** 0.5
    assert delta["se"] == se


def test_post_stratification_removes_imbalance(spark):
    """Plant a stratum-mix imbalance with NO within-stratum effect: the
    raw means differ across arms, the post-stratified means agree."""
    from patternly_spark.operators.drift import post_stratified_mean

    rng = np.random.default_rng(59)
    rows = []
    # stratum A pays ~1000, stratum B ~5000; arm 0 is A-heavy, arm 1 B-heavy
    for arm, (na, nb) in [(0, (800, 200)), (1, (200, 800))]:
        for _ in range(na):
            rows.append((arm, "A", int(rng.normal(1000, 50))))
        for _ in range(nb):
            rows.append((arm, "B", int(rng.normal(5000, 50))))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["arm", "stratum", "cents"]))
    out = {r["arm"]: r for r in post_stratified_mean(
        df, "cents", arm_col="arm", stratum_col="stratum"
    ).collect()}
    raw_gap = abs(out[1]["mean_raw"] - out[0]["mean_raw"])
    post_gap = abs(out[1]["mean_post"] - out[0]["mean_post"])
    assert raw_gap > 2000  # the mix imbalance dominates raw means
    assert post_gap < 100  # post-stratification removes it
    for r in out.values():
        assert r["n_starved_cells"] == 0 and r["se_post"] is not None


def test_msprt_monotone_evidence_and_null(spark):
    """Planted persistent effect: neg_log10_p is nondecreasing in look
    and ends high; under the null it stays near 0.  Degenerate looks
    yield NULL log_lambda, never NaN."""
    from patternly_spark.operators.drift import msprt_monitor

    rng = np.random.default_rng(61)

    def mk(effect):
        rows = []
        for look in range(1, 6):
            for arm in (0, 1):
                vals = rng.normal(20000 + effect * arm, 3000, 500).astype(int)
                rows += [(look, arm, int(v)) for v in vals]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["look", "arm", "cents"])
        )

    out = msprt_monitor(
        mk(1000), "cents", arm_col="arm", look_col="look", tau_cents=1000.0
    ).collect()
    ps = [r["neg_log10_p"] for r in out]
    assert ps == sorted(ps)
    assert ps[-1] > 3.0  # overwhelming evidence by the final look

    null = msprt_monitor(
        mk(0), "cents", arm_col="arm", look_col="look", tau_cents=1000.0
    ).collect()
    assert null[-1]["neg_log10_p"] < 1.0

    tiny = spark.createDataFrame(
        pd.DataFrame({"look": [1, 1], "arm": [0, 1], "cents": [100, 200]})
    )
    t = msprt_monitor(
        tiny, "cents", arm_col="arm", look_col="look", tau_cents=100.0
    ).collect()
    assert t[0]["log_lambda"] is None

    with pytest.raises(ValueError):
        msprt_monitor(tiny, "cents", arm_col="arm", look_col="look", tau_cents=0.0)
