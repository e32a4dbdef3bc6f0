"""End-to-end pipeline tests modeled on the reference's golden notebooks
(SURVEY §5.3): an example0-style batch (normal regimes + 23 anomalous
sequences at known positions) and the continuous stream detector minting a
new PFSA at a regime boundary."""

import numpy as np
import pytest

from patternly_spark.detection import AnomalyDetection, StreamingDetection, ContinuousStreamingDetection
from patternly_spark.pfsa.model import PFSA
from patternly_spark.pfsa.simulate import simulate

# three well-separated 2-state binary machines
MACHINE_A = PFSA(pitilde=[[0.8, 0.2], [0.3, 0.7]], connx=[[0, 1], [0, 1]])
MACHINE_B = PFSA(pitilde=[[0.2, 0.8], [0.7, 0.3]], connx=[[0, 1], [0, 1]])
MACHINE_C = PFSA(pitilde=[[0.05, 0.95], [0.95, 0.05]], connx=[[0, 1], [0, 1]])
# IID-uniform source: high cross-entropy under BOTH structured regimes, so
# it is anomalous w.r.t. every library PFSA (the A6 all-above criterion)
MACHINE_U = PFSA(pitilde=[[0.5, 0.5], [0.5, 0.5]], connx=[[0, 1], [0, 1]])


def _seq_df(spark, groups, length=200):
    """groups: list of (machine, count, seed). seq_ids assigned in order."""
    rows = []
    sid = 0
    for machine, count, seed in groups:
        for s in simulate(machine, length, count, seed=seed):
            rows.append((sid, [int(v) for v in s]))
            sid += 1
    return spark.createDataFrame(rows, "seq_id long, symbols array<int>")


def test_single_cluster_detects_injected_anomalies(spark):
    # minimum end-to-end slice (SURVEY §7): k=1, pre-quantized, golden outcome
    df = _seq_df(spark, [(MACHINE_A, 120, 1), (MACHINE_C, 5, 2)])
    model = AnomalyDetection(spark, n_clusters=1, quantize=False, anomaly_sensitivity=4, eps=0.2)
    model.fit(df)
    preds = model.predict().toPandas().sort_values("seq_id")
    anomalous = preds[preds.anomaly].seq_id.tolist()
    assert anomalous == [120, 121, 122, 123, 124]


def test_example0_style_two_clusters(spark):
    # 2 normal regimes fit with k=2; prediction on a batch with 23 anomalous
    # sequences at known tail positions flags exactly those (example0 golden
    # shape: 23 anomalies at rows 2000-2022)
    train = _seq_df(spark, [(MACHINE_A, 200, 3), (MACHINE_B, 200, 4)])
    model = AnomalyDetection(
        spark, n_clusters=2, quantize=False, anomaly_sensitivity=4, reduce_clusters=False, eps=0.2
    )
    model.fit(train)
    assert model.n_clusters == 2
    assert len(model.library) == 2
    full = _seq_df(spark, [(MACHINE_A, 200, 3), (MACHINE_B, 200, 4), (MACHINE_U, 23, 5)])
    preds = model.predict(full).toPandas().sort_values("seq_id")
    anomalous = preds[preds.anomaly].seq_id.tolist()
    assert anomalous == list(range(400, 423))
    # closest_match maps normal sequences onto their own regime's PFSA
    normal = preds[~preds.anomaly]
    assert normal.closest_match.nunique() == 2


def test_alphabet_incompatible_sequences_flagged(spark):
    # P3 -> A6: a sequence using symbols outside the fitted alphabet is
    # unscorable (llk = inf) under every model, hence anomalous — the
    # reference realigns with inf-padding (detection.py:142-144)
    train = _seq_df(spark, [(MACHINE_A, 80, 13)])
    model = AnomalyDetection(spark, n_clusters=1, quantize=False, anomaly_sensitivity=4, eps=0.2)
    model.fit(train)
    typical = [int(v) for v in simulate(MACHINE_A, 200, 1, seed=14)[0]]
    probe = spark.createDataFrame(
        [(0, typical), (1, [0, 2, 1, 0])], "seq_id long, symbols array<int>"
    )
    preds = {r["seq_id"]: r["anomaly"] for r in model.predict(probe).collect()}
    assert preds[1] is True, "3-symbol sequence must be anomalous under a binary library"
    assert preds[0] is False


def test_cluster_reduction_merges_similar_regimes(spark):
    # clusters over data from ONE machine must merge (example1 pattern:
    # k too high -> reduced).  An arbitrary partitioner (the pluggable
    # clustering_alg surface, reference detection.py:21,:337-338) yields
    # near-identical per-cluster fits, so the confusion fractions spread,
    # the 0.2-threshold digraph connects, and X7 reduces 3 -> 1.
    from pyspark.sql import functions as F

    df = _seq_df(spark, [(MACHINE_A, 200, 7)], length=60)
    partitioner = lambda feats, n: feats.select(
        "seq_id", (F.col("seq_id") % n).cast("int").alias("cluster")
    )
    model = AnomalyDetection(
        spark, n_clusters=3, quantize=False, anomaly_sensitivity=3,
        reduce_clusters=True, clustering_alg=partitioner, eps=0.2,
    )
    model.fit(df)
    assert model.n_clusters == 1
    preds = model.predict().toPandas()
    # in-sample false positives at 3 sigma over 200 draws: ~Binomial tail
    assert preds.anomaly.sum() <= 2


def test_pluggable_mllib_estimator_example3_style(spark):
    # example3 golden shape (reference examples/example3.ipynb): a pluggable
    # clustering estimator (FeatureAgglomeration there; any MLlib Estimator
    # with fit/transform here) instead of KMeans, 0 anomalies in-sample
    from pyspark.ml.clustering import BisectingKMeans

    df = _seq_df(spark, [(MACHINE_A, 120, 11), (MACHINE_B, 120, 12)], length=120)
    model = AnomalyDetection(
        spark, n_clusters=2, quantize=False, anomaly_sensitivity=4,
        reduce_clusters=False, clustering_alg=BisectingKMeans(k=2, seed=42), eps=0.2,
    )
    model.fit(df)
    assert len(model.library) == 2
    preds = model.predict().toPandas()
    assert preds.anomaly.sum() == 0


def test_no_reduction_when_regimes_distinct(spark):
    # genuinely distinct regimes must NOT merge
    df = _seq_df(spark, [(MACHINE_A, 100, 7), (MACHINE_B, 100, 8)], length=100)
    model = AnomalyDetection(
        spark, n_clusters=2, quantize=False, anomaly_sensitivity=4, reduce_clusters=True, eps=0.2
    )
    model.fit(df)
    assert model.n_clusters == 2


def test_quantize_complex_pipeline(spark):
    # continuous values: regime A ~ N(0,1) random walk vs anomaly ~ big jumps
    # normal = momentum random walk (sticky diff signs -> structured
    # symbols); anomaly = alternating jumps (anti-sticky diff signs)
    rng = np.random.default_rng(42)
    rows = []
    for sid in range(60):
        noise = rng.normal(0, 1.0, 150)
        steps = np.empty(150)
        s = 0.0
        for t in range(150):
            s = 0.85 * s + noise[t]
            steps[t] = s
        rows.append((sid, np.cumsum(steps).tolist()))
    for sid in range(60, 64):
        steps = 4.0 * ((-1.0) ** np.arange(150)) + rng.normal(0, 0.5, 150)
        rows.append((sid, np.cumsum(steps).tolist()))
    df = spark.createDataFrame(rows, "seq_id long, values array<double>")
    model = AnomalyDetection(
        spark, n_clusters=1, quantize=True, quantize_type="simple", anomaly_sensitivity=3, eps=0.2
    )
    model.fit(df)
    preds = model.predict().toPandas()
    flagged = set(preds[preds.anomaly].seq_id)
    assert flagged.issuperset({60, 61, 62, 63})
    assert len(flagged) <= 8


def test_save_load_roundtrip(tmp_path, spark):
    df = _seq_df(spark, [(MACHINE_A, 50, 9)])
    model = AnomalyDetection(spark, n_clusters=1, quantize=False, anomaly_sensitivity=4, eps=0.2)
    model.fit(df)
    model.save_model(str(tmp_path / "m"))
    loaded = AnomalyDetection.load_model(str(tmp_path / "m"), spark)
    assert loaded.fitted and len(loaded.library) == 1
    np.testing.assert_allclose(loaded.library[0].pitilde, model.library[0].pitilde)
    preds = loaded.predict(df).toPandas()
    assert preds.anomaly.sum() == 0


def test_streaming_save_load_preserves_windowing_and_quantizer(tmp_path, spark):
    # regression: subclass params (window_size/overlap) and fitted
    # quantizer state must survive save/load — a loaded model must emit
    # byte-identical verdicts (caught live: defaults silently re-chopped
    # the stream after load)
    vals = np.cumsum(np.asarray(simulate(MACHINE_A, 3000, 1, seed=21)[0], dtype=float) * 2 - 1)
    df = spark.createDataFrame([(i, float(v)) for i, v in enumerate(vals)], "offset long, value double")
    m = StreamingDetection(
        spark, window_size=250, window_overlap=50, n_clusters=1,
        quantize=True, quantize_type="complex", n_symbols=3, anomaly_sensitivity=3,
    )
    m.fit(df)
    before = m.predict(df).orderBy("seq_id").toPandas()
    m.save_model(str(tmp_path / "sm"))
    loaded = StreamingDetection.load_model(str(tmp_path / "sm"), spark)
    assert loaded.window_size == 250 and loaded.window_overlap == 50
    assert loaded.quantizer is not None and loaded.quantizer.cutpoints == m.quantizer.cutpoints
    after = loaded.predict(df).orderBy("seq_id").toPandas()
    assert before.anomaly.tolist() == after.anomaly.tolist()
    assert before.closest_match.tolist() == after.closest_match.tolist()


def test_streaming_detection_windows(spark):
    # one long stream from machine A, chopped into tumbling windows
    stream = simulate(MACHINE_A, 20000, 1, seed=11)[0]
    df = spark.createDataFrame(
        [(i, int(s)) for i, s in enumerate(stream)], "offset long, symbol int"
    )
    model = StreamingDetection(
        spark, window_size=500, window_overlap=0, n_clusters=1, quantize=False,
        anomaly_sensitivity=4, eps=0.2,
    )
    model.fit(df)
    preds = model.predict().toPandas()
    assert len(preds) == 40  # 20000 // 500 complete windows
    assert preds.anomaly.sum() == 0


def test_continuous_streaming_with_quantization(spark):
    # regime change in a CONTINUOUS-VALUED stream: random-walk steps from
    # machine A then machine C; complex quantizer symbolizes, detector
    # mints a second model at/after the boundary
    steps_a = np.asarray(simulate(MACHINE_A, 4000, 1, seed=31)[0], dtype=float) * 2 - 1
    steps_c = np.asarray(simulate(MACHINE_C, 2000, 1, seed=32)[0], dtype=float) * 2 - 1
    vals = np.cumsum(np.concatenate([steps_a, steps_c])) * 10.0  # wide range
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "offset long, value double"
    )
    c = ContinuousStreamingDetection(
        spark, window_size=400, window_overlap=0, quantize=True,
        quantize_type="simple", anomaly_sensitivity=3,
    )
    c.fit_stream(df)
    boundary_window = 4000 // 400
    assert len(c.pattern_emergence_times) >= 2
    assert any(t >= boundary_window - 1 for t in c.pattern_emergence_times[1:])


def test_continuous_streaming_mints_pfsa_at_regime_change(spark):
    # segment A (20 windows) then segment C (10 windows): detector must
    # cold-start PFSA 0 and mint a new PFSA at the A->C boundary (ST1/ST2)
    a = simulate(MACHINE_A, 10000, 1, seed=13)[0]
    c = simulate(MACHINE_C, 5000, 1, seed=14)[0]
    stream = np.concatenate([a, c])
    df = spark.createDataFrame(
        [(i, int(s)) for i, s in enumerate(stream)], "offset long, symbol int"
    )
    model = ContinuousStreamingDetection(
        spark, window_size=500, window_overlap=0, n_clusters=1, quantize=False,
        anomaly_sensitivity=4, eps=0.2,
    )
    model.fit_stream(df)
    assert len(model.library) >= 2
    assert model.pattern_emergence_times[0] == 0
    # the first mint after cold start happens at the regime boundary window
    assert any(19 <= t <= 21 for t in model.pattern_emergence_times[1:])


def test_x8_embed_library_merges_near_identical_models(spark):
    # X8 recipe: two near-identical machines land near each other in the
    # 2-D embedding and merge under DBSCAN; a distinct machine stays apart
    from patternly_spark.analysis import embed_library

    a1 = PFSA(pitilde=[[0.8, 0.2], [0.3, 0.7]], connx=[[0, 1], [0, 1]], pfsa_id=0)
    a2 = PFSA(pitilde=[[0.79, 0.21], [0.31, 0.69]], connx=[[0, 1], [0, 1]], pfsa_id=1)
    b = PFSA(pitilde=[[0.05, 0.95], [0.95, 0.05]], connx=[[0, 1], [0, 1]], pfsa_id=2)
    out = embed_library(spark, [a1, a2, b], seq_len=400, n_reps=10, merge_eps=0.05)
    groups = {r["pfsa_id"]: r["merged_group"] for r in out}
    assert groups[0] == groups[1], f"near-identical models must merge: {out}"
    assert groups[2] != groups[0], f"distinct model must not merge: {out}"


def test_fit_with_distributed_genesess_matches_memory_mode(spark):
    df = _seq_df(spark, [(MACHINE_A, 60, 41), (MACHINE_B, 60, 42)], length=150)
    kw = dict(n_clusters=2, quantize=False, anomaly_sensitivity=4, reduce_clusters=False, eps=0.2)
    m_mem = AnomalyDetection(spark, **kw).fit(df)
    m_dist = AnomalyDetection(spark, genesess_mode="distributed", **kw).fit(df)
    for a, b in zip(m_mem.library, m_dist.library):
        np.testing.assert_array_equal(a.connx, b.connx)
        np.testing.assert_allclose(a.pitilde, b.pitilde)
    pm = m_mem.predict(df).orderBy("seq_id").collect()
    pd_ = m_dist.predict(df).orderBy("seq_id").collect()
    assert [r["anomaly"] for r in pm] == [r["anomaly"] for r in pd_]


def test_relabel_handles_noncontiguous_labels(spark):
    from patternly_spark.detection import _relabel_by_frequency

    # labels {0, 2, 5} with counts {0: 1, 2: 3, 5: 2} plus DBSCAN noise -1
    rows = ([(i, 2) for i in range(3)] + [(10 + i, 5) for i in range(2)]
            + [(20, 0)] + [(30, -1)])
    df = spark.createDataFrame(rows, "seq_id long, cluster int")
    out, counts, n = _relabel_by_frequency(df)
    got = {r.seq_id: r.cluster for r in out.collect()}
    assert n == 3
    assert counts == [3, 2, 1]
    assert got[0] == 0 and got[10] == 1 and got[20] == 2  # by frequency
    assert got[30] == -1  # noise passes through, never NULL
    assert None not in got.values()


def test_relabel_tie_break_matches_reference_double_argsort(spark):
    from patternly_spark.detection import _relabel_by_frequency

    # equal counts: reference double-argsort gives the HIGHER raw label the
    # LOWER new rank (stable argsort quirk) — pin it
    rows = [(0, 0), (1, 0), (2, 1), (3, 1)]
    df = spark.createDataFrame(rows, "seq_id long, cluster int")
    out, counts, n = _relabel_by_frequency(df)
    got = {r.seq_id: r.cluster for r in out.collect()}
    assert got[0] == 1 and got[2] == 0


def test_pluggable_clustering_noncontiguous_labels_end_to_end(spark):
    """A pluggable clustering_alg emitting labels {1, 3} must not crash fit
    (previously mapped out-of-range labels to NULL)."""
    from pyspark.sql import functions as F

    def alg(feats, n_clusters):
        # split on seq_id parity with deliberately non-contiguous labels
        return feats.select(
            "seq_id", F.when(F.col("seq_id") % 2 == 0, 1).otherwise(3).alias("cluster")
        )

    df = _seq_df(spark, [(MACHINE_A, 10, 1), (MACHINE_B, 10, 2)], length=300)
    m = AnomalyDetection(spark, n_clusters=2, clustering_alg=alg, quantize=False,
                         reduce_clusters=False, anomaly_sensitivity=3)
    m.fit(df)
    preds = m.predict(df).toPandas()
    assert len(preds) == 20
    assert m.cluster_counts == [10, 10]


def test_complex_detrend_pipeline(spark):
    """VERDICT #6: quantize_type='complex' + detrend composes F1 (first
    difference) then F4 (equi-probable cut-points). The alternating-jump
    anomalies separate cleanly in diff space."""
    rng = np.random.default_rng(7)
    rows = []
    for sid in range(60):
        noise = rng.normal(0, 1.0, 150)
        steps = np.empty(150)
        s = 0.0
        for t in range(150):
            s = 0.85 * s + noise[t]
            steps[t] = s
        rows.append((sid, np.cumsum(steps).tolist()))
    for sid in range(60, 64):
        steps = 4.0 * ((-1.0) ** np.arange(150)) + rng.normal(0, 0.5, 150)
        rows.append((sid, np.cumsum(steps).tolist()))
    df = spark.createDataFrame(rows, "seq_id long, values array<double>")
    model = AnomalyDetection(
        spark, n_clusters=1, quantize=True, quantize_type="complex",
        detrend=True, anomaly_sensitivity=3, eps=0.2,
    )
    model.fit(df)
    assert model.quantizer.detrend is True
    preds = model.predict().toPandas()
    flagged = set(preds[preds.anomaly].seq_id)
    assert flagged.issuperset({60, 61, 62, 63})
    assert len(flagged) <= 8


def test_quantizer_approx_cutpoints_close_to_exact(spark):
    """VERDICT #3: the approx_percentile path (bounded-memory sketch, the
    documented at-scale default) must land cut-points within sketch
    tolerance of the exact path."""
    from patternly_spark.functions.quantize import fit_complex_cutpoints

    rng = np.random.default_rng(11)
    vals = rng.normal(10.0, 3.0, 20000)
    df = spark.createDataFrame([(float(v),) for v in vals], "value double")
    exact = fit_complex_cutpoints(df, "value", n_symbols=4, exact=True)
    approx = fit_complex_cutpoints(df, "value", n_symbols=4, exact=False)
    assert len(exact) == len(approx) == 3
    for e, a in zip(exact, approx):
        # 1/APPROX_ACCURACY rank error on 20k values -> essentially exact;
        # allow a value-space epsilon for interpolation differences
        assert abs(e - a) < 0.01, (e, a)


def test_quantizer_exact_flag_roundtrips_save_load(tmp_path, spark):
    rng = np.random.default_rng(3)
    rows = [(i, rng.normal(0, 1, 100).cumsum().tolist()) for i in range(20)]
    df = spark.createDataFrame(rows, "seq_id long, values array<double>")
    m = AnomalyDetection(spark, n_clusters=1, quantize=True, quantize_type="complex",
                         quantize_exact=False, detrend=True, anomaly_sensitivity=4)
    m.fit(df)
    m.save_model(str(tmp_path / "m"))
    loaded = AnomalyDetection.load_model(str(tmp_path / "m"), spark)
    assert loaded.quantize_exact is False and loaded.detrend is True
    assert loaded.quantizer.exact is False and loaded.quantizer.detrend is True
    assert loaded.quantizer.cutpoints == m.quantizer.cutpoints
    a = m.predict(df).orderBy("seq_id").collect()
    b = loaded.predict(df).orderBy("seq_id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_continuous_fit_stream_short_stream_raises(spark):
    cd = ContinuousStreamingDetection(spark, window_size=1000, window_overlap=0,
                                      quantize=False, anomaly_sensitivity=3)
    df = spark.createDataFrame([(i, float(i % 2)) for i in range(10)],
                               "offset long, value double")
    with pytest.raises(ValueError, match="no complete windows"):
        cd.fit_stream(df)


def test_continuous_fit_stream_many_windows_bounded_driver(spark):
    """VERDICT #4: a long stream (tens of thousands of windows) fits via
    partition-streamed iteration, not a whole-stream collect."""
    rng = np.random.default_rng(2)
    n = 400_000  # 25k windows of 16 symbols
    syms = (rng.random(n) < 0.3).astype(int)
    df = spark.createDataFrame(
        [(int(i), float(v)) for i, v in enumerate(syms)], "offset long, value double"
    )
    cd = ContinuousStreamingDetection(spark, window_size=16, window_overlap=0,
                                      quantize=False, anomaly_sensitivity=4)
    cd.fit_stream(df)
    assert cd.pattern_emergence_times[0] == 0
    assert len(cd.library) == len(cd.pattern_emergence_times) == len(cd._means)


def test_multichannel_save_load_path_hostile_channel_names(tmp_path, spark):
    from patternly_spark.detection import MultiChannelDetection
    from patternly_spark.pfsa.simulate import simulate as _sim

    a = _sim(MACHINE_A, 2000, 1, seed=5)[0]
    hostile = ["lead/I", "../up", "a b.c"]
    rows = [(ch, i, float(v)) for ch in hostile for i, v in enumerate(a)]
    df = spark.createDataFrame(rows, "channel string, offset long, value double")
    m = MultiChannelDetection(spark, window_size=500, window_overlap=0, n_clusters=1,
                              quantize=False, anomaly_sensitivity=3)
    m.fit(df)
    m.save_model(str(tmp_path / "mc"))
    # nothing escaped the save root
    import os as _os
    entries = set(_os.listdir(tmp_path / "mc"))
    assert "channels.json" in entries and len(entries) == 4
    assert not (tmp_path / "up").exists()
    loaded = MultiChannelDetection.load_model(str(tmp_path / "mc"), spark)
    assert set(loaded.models) == set(hostile)
    before = m.predict(df).orderBy("channel", "seq_id").collect()
    after = loaded.predict(df).orderBy("channel", "seq_id").collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after]


def test_exact_percentile_distributed_matches_sql_percentile(spark):
    """Bracket-and-collect == single-buffer SQL percentile, value for
    value, including duplicate-heavy columns, NaN rows (which Spark's
    percentile COUNTS and sorts last), boundary probes, and tiny
    relations."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from patternly_spark.functions.quantize import exact_percentile_distributed

    rng = np.random.default_rng(5)
    vals = list(rng.normal(0, 1, 3000)) + [1.5] * 500 + [float("nan")] * 7
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    probs = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.999, 1.0]
    got = exact_percentile_distributed(df, "x", probs)
    want = df.select(
        F.expr("percentile(x, array({}))".format(",".join(map(str, probs))))
    ).first()[0]
    for g, w in zip(got, want):
        assert (math.isnan(g) and math.isnan(w)) or g == w

    tiny = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "x double")
    assert exact_percentile_distributed(tiny, "x", [0.5]) == [2.0]
    empty = spark.createDataFrame([], "x double")
    assert exact_percentile_distributed(empty, "x", [0.5]) == [None]


def test_exact_percentile_distributed_duplicate_wall(spark):
    """A rank sitting inside a mega-duplicate run must either resolve
    (cap high enough) or raise the documented error (cap too low) —
    never return a wrong value."""
    import pytest as _pytest

    from patternly_spark.functions.quantize import exact_percentile_distributed

    df = spark.createDataFrame([(5.0,)] * 5000 + [(1.0,), (9.0,)], "x double")
    assert exact_percentile_distributed(df, "x", [0.5]) == [5.0]
    with _pytest.raises(ValueError):
        exact_percentile_distributed(df, "x", [0.5], bracket_cap=100)


def test_fit_complex_cutpoints_distributed_mode_matches_exact(spark):
    import numpy as np

    from patternly_spark.functions.quantize import fit_complex_cutpoints

    rng = np.random.default_rng(6)
    df = spark.createDataFrame(
        [(float(v),) for v in rng.normal(0, 3, 4000)], "value double"
    )
    exact = fit_complex_cutpoints(df, "value", n_symbols=4, exact=True)
    dist = fit_complex_cutpoints(df, "value", n_symbols=4, exact="distributed")
    assert dist == exact


def test_predict_is_one_narrow_pass_matching_a_driver_replay(spark):
    """predict: zero exchanges, and its verdict equals the kernel's llk
    matrix read on the driver (anomaly = every llk above its model's
    bound, closest_match = argmin with ties to the lowest pfsa_id)."""
    from patternly_spark.pfsa.llk import llk_matrix, pack
    from patternly_spark.plans import assert_plan

    train = _seq_df(spark, [(MACHINE_A, 60, 3), (MACHINE_B, 60, 4)])
    model = AnomalyDetection(spark, n_clusters=2, quantize=False, anomaly_sensitivity=2,
                             reduce_clusters=False, eps=0.2)
    model.fit(train)
    # a duplicate of model 0 appended as pfsa_id 2: every sequence ties
    # between 0 and 2, and the tie must go to 0
    twin = PFSA.from_dict(dict(model.library[0].to_dict(), pfsa_id=2))
    model.library.append(twin)
    model.pfsa_llk_means = np.append(model.pfsa_llk_means, model.pfsa_llk_means[0])
    model.pfsa_llk_stds = np.append(model.pfsa_llk_stds, model.pfsa_llk_stds[0])

    test = _seq_df(spark, [(MACHINE_A, 20, 13), (MACHINE_B, 20, 14), (MACHINE_U, 10, 15)], length=150)
    preds = model.predict(test)
    assert_plan(preds, max_exchanges=0)
    got = preds.toPandas().sort_values("seq_id")

    rows = test.orderBy("seq_id").collect()
    lens = np.array([len(r.symbols) for r in rows])
    packed = pack(np.concatenate([np.asarray(r.symbols) for r in rows]), lens)
    llk = llk_matrix(packed, lens, model.library)
    bounds = model.pfsa_llk_means + model.pfsa_llk_stds * model.anomaly_sensitivity
    assert got.anomaly.tolist() == (llk > bounds).all(axis=1).tolist()
    assert got.closest_match.tolist() == llk.argmin(axis=1).tolist()
    assert 2 not in set(got.closest_match)
    assert got.anomaly.iloc[40:].all()


def test_score_matrix_carries_columns_and_scores_unequal_lengths(spark):
    from patternly_spark.pfsa.llk import llk_one, score_matrix

    rows = [(0, "a", [0, 1, 1, 0]), (1, "b", [1]), (2, "c", []), (3, "d", [0, 3, 1]), (4, None, [1, 1, 0, 1, 0, 0])]
    df = spark.createDataFrame(rows, "seq_id long, tag string, symbols array<tinyint>")
    out = score_matrix(df, [MACHINE_A, MACHINE_C], keep=("seq_id", "tag")).orderBy("seq_id").collect()
    assert [(r.seq_id, r.tag) for r in out] == [(r[0], r[1]) for r in rows]
    for r, (_, _, syms) in zip(out, rows):
        want = [llk_one(syms, m) for m in (MACHINE_A, MACHINE_C)]
        assert r.llk == pytest.approx(want, rel=1e-12)
