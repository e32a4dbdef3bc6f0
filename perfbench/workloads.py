"""The benchmark's workloads.

Each workload is a function ``(spark, args, work, session_s) -> result``
where the result holds ``correct``, ``attempted``, ``failed`` and a flat
``metrics`` dict with every end-to-end metric (``--trace 0``) or every
per-layer metric (``--trace 1``).  Layers a workload never reaches report
0.  Inputs come from ``gen`` with the run's seed; warm-up inputs use the
same generators with another tag, and are smaller.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd

import gen
from harness import cache_state, median, peak_rss_mb, reset_peak_rss, timed, warm_up

# seed tags: one independent generator stream per input
TRAIN, TEST, WARM, PROBE_FIT, PROBE_HELDOUT, STREAM, STREAM_WARM = range(7)

# score_library
LIB_MODELS = 8
LIB_TRAIN = 2000
LIB_TEST = 20000
LIB_WARM = 5000
LIB_LENGTH = 200
LIB_PLANTED = 0.02
# share of in-library sequences a verdict may flag: the detector's own
# threshold (mean + 1 std per model) flagged 5-8% on seeds 1-3
LIB_FLAG_BOUND = 0.20

# fit probe, run in the traced score_library run: the fit_regimes
# configuration on a 3-regime signal, then predict on a held-out signal
# with segments from a 4th regime
PROBE_KW = dict(window_size=200, window_overlap=100, quantize_type="complex", n_symbols=3, n_clusters=4, reduce_clusters=True)
PROBE_SEGMENT = 2000
# cyclic and reverse-cyclic segments never meet: a window across that
# boundary mixes into a model under which the novel regime is likely
PROBE_TRAIN_REGIMES = [0, 1, 0, 2, 0, 1]
PROBE_HELDOUT_REGIMES = [0, -1, 1, -1, 2, -1]
PROBE_FLAG_BOUND = 0.35

# stream_live
KEYS = 4
WINDOWS = 5
WINDOW = 250
WARM_WINDOWS = 1
# state rows grow by two keys per file; the cap keeps them bounded
MAX_BATCHES = 200

# llk microbenchmark on the driver: a fixed slice of the score_library
# test input against the library regimes as Markov-chain PFSAs
LLK_SLICE = 2000


def _frame(spark, symbols: np.ndarray):
    pdf = pd.DataFrame({"seq_id": np.arange(len(symbols), dtype=np.int64), "symbols": list(symbols)})
    df = spark.createDataFrame(pdf, schema="seq_id long, symbols array<tinyint>").persist()
    df.count()
    return df


def _timed_setup(make, reps: int = 3):
    """Run the input generator ``reps`` times; returns its output and the
    median time.  The repeats must agree, which checks determinism."""
    times, outs = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        outs.append(make())
        times.append(time.perf_counter() - t0)
    first = outs[0]
    for other in outs[1:]:
        if not all(np.array_equal(a, b) if isinstance(a, np.ndarray) else a == b for a, b in zip(first, other)):
            raise RuntimeError("input generator is not deterministic")
    return first, median(times)


def _e2e(op_times, items, timed_s, setup_s, driver_mb, jvm_mb, attempted, failed) -> dict:
    return {
        "op_s": median(op_times),
        "items_per_s": items / timed_s,
        "setup_s": setup_s,
        "driver_rss_mb": driver_mb,
        "jvm_rss_mb": jvm_mb,
        "ok_frac": (attempted - failed) / attempted,
    }


def _zero_layers() -> dict:
    names = [
        "windowing.self_s", "windowing.jobs", "quantize.self_s", "quantize.jobs",
        "cluster.self_s", "cluster.jobs", "cluster.calls",
        "genesess.self_s", "genesess.jobs", "genesess.calls",
        "reduce.self_s", "reduce.jobs", "reduce.rounds",
        "fit.self_s", "fit.jobs", "fit.stages", "fit.tasks", "fit.gap_s",
        "predict.self_s", "predict.jobs", "predict.tasks", "predict.gap_s",
        "predict.exchanges", "predict.python_evals",
        "stream.add_batch_s", "stream.planning_s", "stream.wal_commit_s",
        "stream.commit_offsets_s", "stream.get_batch_s", "stream.latest_offset_s",
        "stream.state_commit_s", "stream.state_update_s", "stream.state_instances",
        "stream.state_rows", "stream.state_bytes", "stream.key_frac", "stream.mints",
    ]
    return dict.fromkeys(names, 0.0)


def _llk_steps_per_s(seed: int) -> float:
    """Driver-side ``llk_batch`` throughput: sequence steps scored per
    second, median of three passes."""
    from patternly_spark.pfsa.llk import llk_batch
    from patternly_spark.pfsa.model import PFSA

    syms, _ = gen.library_sequences((seed, TEST), LLK_SLICE, LIB_LENGTH, LIB_PLANTED)
    k = len(gen.LIBRARY_REGIMES[0])
    models = [PFSA(pitilde=t, connx=np.tile(np.arange(k), (k, 1))) for t in gen.LIBRARY_REGIMES]
    seqs = list(syms)
    rates = []
    for _ in range(3):
        t0 = time.perf_counter()
        for m in models:
            llk_batch(seqs, m)
        rates.append(syms.size * len(models) / (time.perf_counter() - t0))
    return median(rates)


def _patch_layers(tracer) -> None:
    from patternly_spark.detection import AnomalyDetection, StreamingDetection

    tracer.patch(StreamingDetection, "_split", "windowing")
    tracer.patch(AnomalyDetection, "_quantize", "quantize")
    tracer.patch(AnomalyDetection, "_cluster_labels", "cluster")
    tracer.patch(AnomalyDetection, "_fit_library", "genesess")
    tracer.patch(AnomalyDetection, "_reduce_step", "reduce")


def _traced_alternate(tracer, op, i: int, summaries: list, name: str):
    """Odd ops run inside a root span (traced), even ops bare."""
    if i % 2 == 0:
        return op()
    with tracer.span(name) as sp:
        res = op()
    summaries.append(tracer.summarize(sp))
    return res


def _overhead(results: list[tuple]) -> float:
    traced = [r[0] for i, r in enumerate(results) if i % 2]
    bare = [r[0] for i, r in enumerate(results) if i % 2 == 0]
    return median(traced) - median(bare) if traced and bare else 0.0


# ---------------------------------------------------------------------------
# score_library


def _check_verdict(pdf: pd.DataFrame, planted: np.ndarray, n_models: int, bound: float) -> str | None:
    """None when the full verdict is right, else why not."""
    pdf = pdf.sort_values("seq_id")
    if len(pdf) != len(planted) or not np.array_equal(pdf["seq_id"].to_numpy(), np.arange(len(planted))):
        return f"{len(pdf)} verdict rows for {len(planted)} sequences"
    flags = pdf["anomaly"].to_numpy(dtype=bool)
    if not flags[planted].all():
        return f"{int((~flags[planted]).sum())} planted sequences not flagged"
    rate = float(flags[~planted].mean())
    if rate > bound:
        return f"in-library flag rate {rate:.3f} above {bound}"
    cm = pdf["closest_match"].to_numpy()
    if cm.min() < 0 or cm.max() >= n_models:
        return "closest_match outside the library"
    return None


def score_library(spark, args, work, session_s) -> dict:
    from patternly_spark.detection import AnomalyDetection
    from patternly_spark.plans import plan_audit

    inputs, gen_s = _timed_setup(lambda: (
        gen.library_sequences((args.seed, TRAIN), LIB_TRAIN, LIB_LENGTH)[0],
        *gen.library_sequences((args.seed, TEST), LIB_TEST, LIB_LENGTH, LIB_PLANTED),
        *gen.library_sequences((args.seed, WARM), LIB_WARM, LIB_LENGTH, LIB_PLANTED),
    ))
    train, test, planted, warm, warm_planted = inputs
    t_frames = time.perf_counter()
    train_df, test_df, warm_df = (_frame(spark, s) for s in (train, test, warm))
    det = AnomalyDetection(spark, quantize=False, n_clusters=LIB_MODELS, reduce_clusters=False)
    det.fit(train_df)
    notes = []
    setup_ok = len(det.library) == LIB_MODELS
    if not setup_ok:
        notes.append(f"library has {len(det.library)} models, expected {LIB_MODELS}")
    n_models = len(det.library)

    failures: list[str] = []

    def predict(df, truth):
        t0 = time.perf_counter()
        pdf = det.predict(df).toPandas()
        dt = time.perf_counter() - t0
        why = _check_verdict(pdf, truth, n_models, LIB_FLAG_BOUND)
        if why:
            failures.append(why)
        return dt, why is None

    warm_times = warm_up(lambda: predict(warm_df, warm_planted)[0])
    setup_s = session_s + gen_s + (time.perf_counter() - t_frames)
    notes.append(f"score_library: warm-up predicts {[round(t, 2) for t in warm_times]}")

    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark)
        _patch_layers(tracer)
        summaries: list[dict] = []
        try:
            results, _ = timed(
                lambda i: _traced_alternate(tracer, lambda: predict(test_df, planted), i, summaries, "predict"),
                args.seconds,
            )
            if len(summaries) == 0:
                summaries.append(_one_traced(tracer, lambda: predict(test_df, planted), "predict"))
            audit = plan_audit(det.predict(test_df))
            probe, probe_failure = _fit_probe(spark, tracer, args.seed)
        finally:
            tracer.close()
        if probe_failure:
            failures.append(probe_failure)
        blocks, mb = cache_state(spark)
        metrics = _zero_layers()
        metrics.update(_fit_layers(probe))
        metrics.update({
            "predict.self_s": median(s["predict"]["self_s"] for s in summaries),
            "predict.jobs": median(s["predict"]["jobs"] for s in summaries),
            "predict.tasks": median(s["predict"]["tasks"] for s in summaries),
            "predict.gap_s": median(s["predict"]["gap_s"] for s in summaries),
            "predict.exchanges": audit["exchanges"],
            "predict.python_evals": audit["python_evals"],
        })
        metrics.update(_common_layers(session_s, args.seed, blocks, mb, _overhead(results)))
    else:
        driver, jvm = reset_peak_rss(spark)
        results, timed_s = timed(lambda i: predict(test_df, planted), args.seconds)
        metrics = _e2e(
            [r[0] for r in results], len(results) * LIB_TEST * n_models, timed_s, setup_s,
            peak_rss_mb(driver), peak_rss_mb(jvm), len(results), sum(not r[1] for r in results),
        )
    notes.extend(dict.fromkeys(failures))
    return {
        "correct": setup_ok and not failures,
        "attempted": len(results),
        "failed": sum(not r[1] for r in results),
        "metrics": metrics,
        "notes": notes,
    }


def _one_traced(tracer, op, name):
    with tracer.span(name) as sp:
        op()
    return tracer.summarize(sp)


def _fit_probe(spark, tracer, seed: int):
    """One traced fit_regimes op: windowed fit with cluster reduction on a
    3-regime signal, then a predict on a held-out signal whose novel
    segments must all be flagged."""
    from patternly_spark.detection import StreamingDetection

    def signal_frame(values):
        pdf = pd.DataFrame({"offset": np.arange(len(values), dtype=np.int64), "value": values})
        return spark.createDataFrame(pdf, schema="offset long, value double")

    train, _ = gen.regime_signal((seed, PROBE_FIT), PROBE_TRAIN_REGIMES, PROBE_SEGMENT)
    held, labels = gen.regime_signal((seed, PROBE_HELDOUT), PROBE_HELDOUT_REGIMES, PROBE_SEGMENT)
    det = StreamingDetection(spark, **PROBE_KW)
    with tracer.span("probe") as root:
        with tracer.span("fit"):
            det.fit(signal_frame(train))
        with tracer.span("heldout"):
            pdf = det.predict(signal_frame(held)).toPandas()
    summary = tracer.summarize(root)
    stride = PROBE_KW["window_size"] - PROBE_KW["window_overlap"]
    win = np.stack([labels[i * stride:i * stride + PROBE_KW["window_size"]] for i in pdf["seq_id"]])
    planted = (win == -1).all(axis=1)
    mixed = (win == -1).any(axis=1) & ~planted
    flags = pdf["anomaly"].to_numpy(dtype=bool)
    failure = None
    if not flags[planted].all():
        failure = f"fit probe: {int((~flags[planted]).sum())} novel windows not flagged"
    elif flags[~planted & ~mixed].mean() > PROBE_FLAG_BOUND:
        failure = f"fit probe: trained-regime flag rate {flags[~planted & ~mixed].mean():.3f}"
    for df_name in ("quantized_df", "_sld_cache"):
        df = getattr(det, df_name)
        if df is not None:
            df.unpersist()
    return summary, failure


def _fit_layers(s: dict) -> dict:
    def g(layer, key):
        return float(s.get(layer, {}).get(key, 0.0))

    return {
        "windowing.self_s": g("windowing", "self_s"), "windowing.jobs": g("windowing", "jobs"),
        "quantize.self_s": g("quantize", "self_s"), "quantize.jobs": g("quantize", "jobs"),
        "cluster.self_s": g("cluster", "self_s"), "cluster.jobs": g("cluster", "jobs"),
        "cluster.calls": g("cluster", "calls"),
        "genesess.self_s": g("genesess", "self_s"), "genesess.jobs": g("genesess", "jobs"),
        "genesess.calls": g("genesess", "calls"),
        "reduce.self_s": g("reduce", "self_s"), "reduce.jobs": g("reduce", "jobs"),
        "reduce.rounds": g("reduce", "calls"),
        "fit.self_s": g("fit", "self_s"), "fit.jobs": g("fit", "jobs"), "fit.stages": g("fit", "stages"),
        "fit.tasks": g("fit", "tasks"), "fit.gap_s": g("fit", "gap_s"),
    }


def _common_layers(session_s, seed, blocks, mb, overhead) -> dict:
    return {
        "session.start_s": session_s,
        "llk.steps_per_s": _llk_steps_per_s(seed),
        "cache.blocks": blocks,
        "cache.mb": mb,
        "trace.overhead_s": overhead,
    }


# ---------------------------------------------------------------------------
# stream_live


def stream_live(spark, args, work, session_s) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from patternly_spark.streaming.continuous import StreamingPFSADetector

    # this run's own source, staging and checkpoint directories; the whole
    # work directory is deleted when the run ends
    src, stage, ckpt = (os.path.join(work, d) for d in ("stream_src", "stream_stage", "stream_ckpt"))
    os.makedirs(src)
    os.makedirs(stage)
    name = f"perfbench_stream_{os.getpid()}"
    arrow_schema = pa.schema([("stream_id", pa.string()), ("window_id", pa.int64()), ("symbols", pa.list_(pa.int32()))])
    staged: list[dict] = []  # per file: its (key, window) pairs and key phases

    def make_file(index: int, warmup: bool):
        if warmup:
            return gen.stream_file((args.seed, STREAM_WARM), index, KEYS, WARM_WINDOWS, WINDOW, prefix="w")
        return gen.stream_file((args.seed, STREAM), index, KEYS, WINDOWS, WINDOW, prefix="m")

    def batch(rows, phases) -> float:
        """Stage one file atomically, wait for the query to process it, and
        return its triggerExecution time."""
        i = len(staged)
        table = pa.Table.from_pylist(
            [{"stream_id": k, "window_id": w, "symbols": s} for k, w, s in rows], schema=arrow_schema
        )
        tmp = os.path.join(stage, f"part-{i:05d}.parquet")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(src, f"part-{i:05d}.parquet"))
        staged.append({"windows": [(k, w) for k, w, _ in rows], "phases": phases})
        query.processAllAvailable()
        p = _progress_for(query, i)
        if p is None:
            raise RuntimeError(f"no progress record for micro-batch {i}")
        progress.append(p)
        return p["durationMs"]["triggerExecution"] / 1000.0

    # generation time: median of three builds of the first measured file
    _, gen_s = _timed_setup(lambda: make_file(0, False))
    t_query = time.perf_counter()
    stream = spark.readStream.schema("stream_id string, window_id long, symbols array<int>") \
        .option("maxFilesPerTrigger", 1).parquet(src)
    query = (
        StreamingPFSADetector(alphabet_size=gen.STREAM_ALPHABET).apply(stream)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", ckpt).trigger(processingTime="0 seconds").start()
    )
    progress: list[dict] = []
    try:
        warm_times = warm_up(lambda: batch(*make_file(len(staged), True)))
        setup_s = session_s + gen_s + (time.perf_counter() - t_query)
        n_warm = len(staged)
        driver, jvm = reset_peak_rss(spark)
        results, timed_s = timed(lambda i: batch(*make_file(i, False)), args.seconds, MAX_BATCHES)
        driver_mb, jvm_mb = peak_rss_mb(driver), peak_rss_mb(jvm)
    finally:
        query.stop()
    out = spark.sql(f"SELECT * FROM {name}").toPandas()
    spark.catalog.dropTempView(name)

    failures = _check_stream(out, staged)
    failed = sum(1 for i in range(n_warm, len(staged)) if i in failures)
    notes = [
        f"stream_live: warm-up batches {[round(t, 2) for t in warm_times]}",
        f"stream_live: timed batches {[round(t, 2) for t in results]}",
    ]
    notes += sorted(set(failures.values()))
    if args.trace:
        blocks, mb = cache_state(spark)
        metrics = _zero_layers()
        metrics.update(_stream_layers(progress[n_warm:], out, staged[n_warm:]))
        # no spans here: micro-batches run on the query's own thread, so
        # the traced run differs from an untraced one only by the UI
        metrics.update(_common_layers(session_s, args.seed, blocks, mb, 0.0))
    else:
        windows_done = len(results) * KEYS * WINDOWS
        metrics = _e2e(results, windows_done, timed_s, setup_s, driver_mb, jvm_mb, len(results), failed)
    return {
        "correct": not failures,
        "attempted": len(results),
        "failed": failed,
        "metrics": metrics,
        "notes": notes,
    }


def _progress_for(query, file_index: int) -> dict | None:
    """The progress record of the batch that read file ``file_index``
    (batch ids count from 0, one file per batch)."""
    for p in reversed(query.recentProgress):
        if p.batchId == file_index:
            return json.loads(p.json)
    return None


def _check_stream(out: pd.DataFrame, staged: list[dict]) -> dict[int, str]:
    """Per staged file, why its output is wrong (absent when right): one
    output row per input window, and every key mints a model in every
    file, because each key is either new or has just switched regime."""
    seen = out.groupby(["stream_id", "window_id"]).size()
    minted = out[out["minted_pfsa"].notna()]
    minted_at = set(zip(minted["stream_id"], minted["window_id"]))
    failures = {}
    for i, f in enumerate(staged):
        if any(int(seen.get(kw, 0)) != 1 for kw in f["windows"]):
            failures[i] = "stream_live: a window has no output row, or more than one"
            continue
        for key, phase in f["phases"].items():
            if not any(kw in minted_at for kw in f["windows"] if kw[0] == key):
                what = "a new key" if phase == 0 else "a key that switched regime"
                failures[i] = f"stream_live: {what} minted no model"
    return failures


def _stream_layers(progress: list[dict], out: pd.DataFrame, staged: list[dict]) -> dict:
    """Median per timed micro-batch of each phase and state figure."""

    def dur(key):
        return median(p["durationMs"].get(key, 0) / 1000.0 for p in progress)

    def state(key):
        return median(sum(op.get(key, 0) for op in p["stateOperators"]) for p in progress)

    minted = set(zip(out.loc[out["minted_pfsa"].notna(), "stream_id"], out.loc[out["minted_pfsa"].notna(), "window_id"]))
    instances = state("numStateStoreInstances")
    return {
        "stream.add_batch_s": dur("addBatch"),
        "stream.planning_s": dur("queryPlanning"),
        "stream.wal_commit_s": dur("walCommit"),
        "stream.commit_offsets_s": dur("commitOffsets"),
        "stream.get_batch_s": dur("getBatch"),
        "stream.latest_offset_s": dur("latestOffset"),
        "stream.state_commit_s": state("commitTimeMs") / 1000.0,
        "stream.state_update_s": state("allUpdatesTimeMs") / 1000.0,
        "stream.state_instances": instances,
        "stream.state_rows": state("numRowsTotal"),
        "stream.state_bytes": state("memoryUsedBytes"),
        "stream.key_frac": KEYS / instances,
        "stream.mints": median(sum(kw in minted for kw in f["windows"]) for f in staged),
    }


WORKLOADS = {"score_library": score_library, "stream_live": stream_live}
