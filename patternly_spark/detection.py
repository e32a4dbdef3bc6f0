"""Anomaly-discovery pipelines over Spark DataFrames.

Mirrors the reference API surface (``patternly/detection.py``):

- ``AnomalyDetection``            — batch fit/predict      (detection.py:15-499)
- ``StreamingDetection``          — window-chop + batch    (detection.py:550-613)
- ``ContinuousStreamingDetection``— ordered online growth  (detection.py:616-734)

but the execution is Spark-first (SURVEY §3):

fit:      quantize (codegen column exprs) -> SLD featurization (score vs a
          tiny broadcast base-model library — O(N*k), replaces the
          reference's O(N^2) Lsmash distance matrix, justified by the
          paper's own SLD theory, tex/ms.tex:197-200) -> MLlib KMeans
          (seeded) -> frequency relabel -> per-cluster GenESeSS via
          applyInPandas -> iterative cluster reduction -> per-cluster
          llk stats (stddev_samp == ddof=1).
predict:  one mapInArrow pass scoring every sequence under the library in
          the task closure (``llk array<double>`` per sequence), then
          column expressions over that array for the ALL-above-bound
          anomaly reduction + argmin closest-match.  No shuffle.

Consciously fixed reference bugs (SURVEY §7.4): correct Tarjan SCC count
(vs _utils.py:157-160 whole-stack pop), per-refit library rebuild (vs
cluster_PFSA_info accumulation at detection.py:393), per-model stat lists
in the continuous detector (vs scalar overwrite at detection.py:733-734).
Preserved quirk: alphabet_size = max(symbol)+1 (detection.py:133-136).
"""

from __future__ import annotations

import json
import os
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from patternly_spark.functions.quantize import (
    Quantizer,
    array_diff,
    percentile_expr,
    symbol_from_cutpoints,
)
from patternly_spark.functions.windowing import split_stream, windows_to_sequences
from patternly_spark.pfsa.genesess import _tarjan_scc, fit_cluster_pfsas, genesess
from patternly_spark.pfsa.llk import llk_batch, score_matrix
from patternly_spark.pfsa.model import PFSA
from patternly_spark.pfsa.simulate import simulate


def _base_models(alphabet_size: int) -> list[PFSA]:
    """Fixed SLD base set (paper: 'we use a fixed base set of four simple
    PFSA', tex/ms.tex SLD section).  Deterministic for any alphabet k:
    k-state machines delta(q, s) = s with differently-biased emission rows."""
    k = alphabet_size
    eye = np.eye(k)
    models = []
    recipes = [
        1.0 + 1.5 * eye,                      # sticky: prefer re-emitting state symbol
        1.0 + 1.5 * np.roll(eye, 1, axis=1),  # cyclic: prefer the next symbol
        1.0 - 0.6 * eye,                      # antisticky
        1.0 + 3.0 * np.roll(eye, -1, axis=1), # strong reverse-cyclic
    ]
    connx = np.tile(np.arange(k, dtype=np.int32), (k, 1))
    for i, w in enumerate(recipes):
        pit = w / w.sum(axis=1, keepdims=True)
        models.append(PFSA(pitilde=pit, connx=connx, pfsa_id=i))
    return models


def _relabel_by_frequency(labels_df: DataFrame) -> tuple[DataFrame, list[int], int]:
    """A2: relabel clusters so 0 = most common (reference double-argsort,
    detection.py:339-347).  Input: (seq_id, cluster).  Returns relabeled
    df, cluster counts desc, n_clusters.  Noise label -1 (DBSCAN-style) is
    excluded from the count (detection.py:339 quirk)."""
    counts_rows = labels_df.filter(F.col("cluster") >= 0).groupBy("cluster").count().collect()
    raw = {int(r["cluster"]): int(r["count"]) for r in counts_rows}
    n = len(raw)
    # rank over the labels actually present (a pluggable clustering_alg or an
    # empty KMeans cluster can yield non-contiguous labels); for contiguous
    # 0..n-1 labels this is byte-identical to the reference's double-argsort,
    # including its tie-break (equal counts -> higher label ranks first).
    labels = sorted(raw)
    counts = np.array([raw[l] for l in labels], dtype=np.int64)
    rank = np.full(n, n - 1, dtype=np.int64) - np.argsort(np.argsort(counts))
    mapping = {labels[i]: int(rank[i]) for i in range(n)}
    mapping[-1] = -1  # DBSCAN-style noise passes through
    map_expr = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
    out = labels_df.withColumn("cluster", map_expr[F.col("cluster")].cast("int"))
    counts_desc = sorted(counts.tolist(), reverse=True)
    return out, counts_desc, n


def _argmin(col: str):
    """0-based position of an array's first minimum (ties -> lowest
    position, i.e. lowest pfsa_id in a library ordered by id)."""
    return (F.array_position(col, F.array_min(col)) - 1).cast("int")


class AnomalyDetection:
    """Unsupervised PFSA anomaly discovery; sklearn-style fit/predict over
    Spark DataFrames.

    Input DataFrame layouts:
      - pre-quantized:  (seq_id long, symbols array<int>)   [quantize=False]
      - continuous:     (seq_id long, values array<double>) [quantize=True]
    """

    def __init__(
        self,
        spark: SparkSession | None = None,
        *,
        anomaly_sensitivity: float = 1.0,
        n_clusters: int = 1,
        reduce_clusters: bool = True,
        clustering_alg=None,
        quantize: bool = True,
        quantize_type: str = "complex",
        n_symbols: int = 2,
        detrend: bool = False,
        quantize_exact: bool = True,
        eps: float = 0.1,
        seed: int = 42,
        verbose: bool = False,
        genesess_mode: str = "memory",  # memory | distributed
    ) -> None:
        self.spark = spark
        self.anomaly_sensitivity = float(anomaly_sensitivity)
        self.n_clusters = int(n_clusters)
        self.reduce_clusters = bool(reduce_clusters)
        self.clustering_alg = clustering_alg
        self.quantize = bool(quantize)
        self.quantize_type = quantize_type
        self.n_symbols = int(n_symbols)
        # detrend: first-difference before complex quantization (reference
        # Quantizer option, detection.py:297-306 composing F1 then F4)
        self.detrend = bool(detrend)
        # exact percentile for oracle parity; approx sketch is the
        # documented at-scale default (functions/quantize.percentile_expr)
        self.quantize_exact = bool(quantize_exact)
        self.eps = float(eps)
        self.seed = int(seed)
        self.verbose = bool(verbose)
        self.genesess_mode = genesess_mode

        self.fitted = False
        self.quantizer: Quantizer | None = None
        self.quantized_df: DataFrame | None = None  # (seq_id, symbols[, cluster])
        self.cluster_counts: list[int] = []
        self.library: list[PFSA] = []
        self.pfsa_llk_means: np.ndarray | None = None
        self._sld_cache = None
        self.pfsa_llk_stds: np.ndarray | None = None
        self.alphabet_size: int | None = None

    # ------------------------------------------------------------------
    def _quantize(self, df: DataFrame) -> DataFrame:
        """-> (seq_id, symbols array<tinyint>).  Mirrors __quantize
        (detection.py:272-308)."""
        cols = df.columns
        if not self.quantize or "symbols" in cols:
            src = "symbols" if "symbols" in cols else "values"
            return df.select("seq_id", F.transform(F.col(src), lambda x: x.cast("tinyint")).alias("symbols"))

        v = F.col("values")
        if self.quantize_type in ("simple", "simple-second"):
            def diff(col):
                shifted = F.concat(F.slice(col, 1, 1), F.slice(col, 1, F.greatest(F.size(col) - 1, F.lit(0))))
                return F.zip_with(col, shifted, lambda a, b: a - b)

            d = diff(v)
            if self.quantize_type == "simple-second":
                d = diff(d)
            syms = F.transform(d, lambda x: F.when(x > 0, F.lit(1)).otherwise(F.lit(0)).cast("tinyint"))
            return df.select("seq_id", syms.alias("symbols"))

        # complex: entropy-max equi-probable cut-points over ALL values,
        # optionally detrended first (F1 then F4)
        vals = array_diff(v) if self.detrend else v
        if self.quantizer is None or not self.quantizer.fitted:
            flat = df.select(F.explode(vals).alias("value"))
            probs = [i / self.n_symbols for i in range(1, self.n_symbols)]
            cuts = flat.select(
                percentile_expr("value", probs, exact=self.quantize_exact).alias("c")
            ).first()["c"]
            self.quantizer = Quantizer(
                quantize_type="complex", n_symbols=self.n_symbols,
                detrend=self.detrend, exact=self.quantize_exact,
                cutpoints=[float(c) for c in cuts], fitted=True,
            )
        cutpoints = self.quantizer.cutpoints
        syms = F.transform(vals, lambda x: symbol_from_cutpoints(x, cutpoints))
        return df.select("seq_id", syms.alias("symbols"))

    # ------------------------------------------------------------------
    def _sld_features(self, seq_df: DataFrame) -> DataFrame:
        """SLD featurization (llk vector against the fixed base library),
        persisted: the X7 reduction loop re-clusters with shrinking k but
        identical sequences, so features are computed exactly once per
        fit."""
        if self._sld_cache is not None:
            return self._sld_cache
        base = _base_models(self.alphabet_size or 2)
        feats = score_matrix(seq_df, base).select(
            "seq_id",
            F.transform("llk", lambda v: F.when(v == float("inf"), F.lit(1e6)).otherwise(v)).alias("feat"),
        )
        self._sld_cache = feats.persist()
        return self._sld_cache

    def _cluster_labels(self, seq_df: DataFrame, n_clusters: int) -> DataFrame:
        """-> (seq_id, cluster int), frequency-relabeled.  SLD featurization
        + seeded MLlib KMeans (SURVEY §4.3.1 replacing X3/X6)."""
        if n_clusters == 1:
            return seq_df.select("seq_id", F.lit(0).cast("int").alias("cluster"))

        feats = self._sld_features(seq_df)
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        vec = feats.select("seq_id", array_to_vector("feat").alias("features"))
        if self.clustering_alg is not None and callable(self.clustering_alg) and not hasattr(self.clustering_alg, "fit"):
            # pluggable clustering, Spark idiom of the reference's any
            # `.fit(X).labels_` duck-typing (detection.py:21,:337-338):
            # a callable (features_df(seq_id, feat), n_clusters) ->
            # DataFrame(seq_id, cluster)
            pred = self.clustering_alg(feats, n_clusters).select(
                "seq_id", F.col("cluster").cast("int").alias("cluster")
            )
        elif self.clustering_alg is not None:
            est = self.clustering_alg
            model = est.fit(vec)
            pred = model.transform(vec).select("seq_id", F.col(model.getOrDefault(model.predictionCol)).cast("int").alias("cluster"))
        else:
            km = KMeans(k=n_clusters, seed=self.seed, initMode="k-means||", maxIter=50)
            model = km.fit(vec)
            pred = model.transform(vec).select("seq_id", F.col("prediction").cast("int").alias("cluster"))
        relabeled, counts, n_found = _relabel_by_frequency(pred)
        self.cluster_counts = counts
        return relabeled

    # ------------------------------------------------------------------
    def _fit_library(self, clustered: DataFrame, n_clusters: int) -> list[PFSA]:
        if self.genesess_mode == "distributed":
            # SURVEY §4.3.2 fallback: per-cluster distributed n-gram
            # GenESeSS — no cluster's sequences are ever collected to one
            # process.  Produces the identical machine the in-memory path
            # would (tests/test_pfsa_core.py pins exact equality).
            from patternly_spark.pfsa.genesess import genesess_distributed

            models = []
            for i in range(n_clusters):
                sub = clustered.filter(F.col("cluster") == i).select("symbols")
                models.append(
                    genesess_distributed(
                        sub, eps=self.eps, alphabet_size=self.alphabet_size, pfsa_id=i
                    )
                )
            return models
        lib_df = fit_cluster_pfsas(clustered, eps=self.eps, alphabet_size=self.alphabet_size)
        rows = lib_df.orderBy("pfsa_id").collect()
        return [PFSA.from_row(r) for r in rows]

    # ------------------------------------------------------------------
    def _reduce_step(self, clustered: DataFrame, library: list[PFSA]) -> int:
        """One reduction evaluation (X7): confusion fractions -> self-boost
        -> threshold-0.2 digraph -> SCC count (correct Tarjan)."""
        k = len(library)
        best = score_matrix(clustered, library, keep=("cluster",)).select(
            "cluster", _argmin("llk").alias("best_pfsa")
        )
        conf_rows = best.groupBy("cluster", "best_pfsa").count().collect()
        mat = np.zeros((k, k))
        for r in conf_rows:
            mat[int(r["cluster"]), int(r["best_pfsa"])] = r["count"]
        sums = mat.sum(axis=1, keepdims=True)
        sums[sums == 0] = 1.0
        mat = mat / sums
        # self-boost: +1 to (best, i) when cluster i's best PFSA is not i
        # (detection.py:446-448; boosts accumulate across i)
        for i in range(k):
            ranked = np.argsort(mat[i])[::-1]
            bm = int(ranked[0])
            if bm != i:
                mat[bm][i] += 1
        edges: dict[int, set[int]] = {i: set() for i in range(k)}
        for i in range(k):
            for j in range(k):
                if mat[i][j] >= 0.2:
                    edges[i].add(j)
        return len(_tarjan_scc(k, edges))

    # ------------------------------------------------------------------
    def fit(self, df: DataFrame, y=None) -> "AnomalyDetection":
        self.spark = self.spark or df.sparkSession
        if self._sld_cache is not None:
            self._sld_cache.unpersist()
            self._sld_cache = None
        seq_df = self._quantize(df)
        seq_df = seq_df.persist()
        self.alphabet_size = int(
            seq_df.select(F.max(F.array_max("symbols")).alias("m")).first()["m"]
        ) + 1

        n = self.n_clusters
        clustered = self._cluster_labels(seq_df, n).join(seq_df, "seq_id")
        library = self._fit_library(clustered, n)

        if self.reduce_clusters and n > 1:
            for _ in range(10):
                new_n = self._reduce_step(clustered, library)
                if new_n >= len(library):
                    break
                if self.verbose:
                    print(f"Reduced clusters from {len(library)} to {new_n}.")
                n = new_n
                clustered = self._cluster_labels(seq_df, n).join(seq_df, "seq_id")
                library = self._fit_library(clustered, n)
                if n == 1:
                    break

        self.n_clusters = len(library)
        self.library = library

        # A1: per-cluster llk mean/std over the cluster's own PFSA
        own = (
            score_matrix(clustered, library, keep=("cluster",))
            .filter(F.col("cluster").between(0, self.n_clusters - 1))
            .select("cluster", F.col("llk")[F.col("cluster")].alias("llk"))
        )
        stats = (
            own.groupBy("cluster")
            .agg(F.avg("llk").alias("mean"), F.stddev_samp("llk").alias("std"))
            .collect()
        )
        means = np.zeros(self.n_clusters)
        stds = np.zeros(self.n_clusters)
        for r in stats:
            means[int(r["cluster"])] = r["mean"]
            stds[int(r["cluster"])] = r["std"] if r["std"] is not None else 0.0
        self.pfsa_llk_means = means
        self.pfsa_llk_stds = stds
        self.quantized_df = clustered.select("seq_id", "symbols", "cluster").persist()
        seq_df.unpersist()
        self.fitted = True
        return self

    # ------------------------------------------------------------------
    def predict(self, df: DataFrame | None = None) -> DataFrame:
        """-> (seq_id, anomaly boolean, closest_match int).

        Plan: one mapInArrow llk scoring pass (library in closure) and
        column expressions over each sequence's llk array: the
        ALL-above-bound reduction (A6) and the argmin closest match (A3).
        No shuffle.
        """
        if not self.fitted:
            raise ValueError("Model has not been fit yet.")
        if df is None:
            if self.quantized_df is None:
                raise ValueError("Original data not found. Pass data to predict().")
            seq_df = self.quantized_df.select("seq_id", "symbols")
        else:
            seq_df = self._quantize(df)

        bounds = self.pfsa_llk_means + self.pfsa_llk_stds * self.anomaly_sensitivity
        above = F.zip_with("llk", F.array(*map(F.lit, bounds.tolist())), lambda llk, bound: llk > bound)
        ids = F.array(*[F.lit(int(m.pfsa_id)) for m in self.library])
        return score_matrix(seq_df, self.library).select(
            "seq_id",
            F.forall(above, lambda a: a).alias("anomaly"),
            ids[_argmin("llk")].alias("closest_match"),
        )

    def print_PFSAs(self) -> None:
        """Print each cluster PFSA (parity: AnomalyDetection.print_PFSAs,
        ``patternly/detection.py:245-253``)."""
        if not self.fitted:
            raise ValueError("Model has not been fit yet.")
        for m in self.library:
            print(f"Cluster {m.pfsa_id} PFSA:")
            print(m.to_text())

    def generate_PFSA_dots(self, directory: str) -> list[str]:
        """Write one graphviz .dot per cluster PFSA; returns paths (S6
        parity with generate_PFSA_pngs, ``patternly/detection.py:256-269``)."""
        if not self.fitted:
            raise ValueError("Model has not been fit yet.")
        os.makedirs(directory, exist_ok=True)
        paths = []
        for m in self.library:
            p = os.path.join(directory, f"pfsa_{m.pfsa_id}.dot")
            with open(p, "w") as f:
                f.write(m.to_dot())
            paths.append(p)
        return paths

    def generate_PFSA_pngs(self, directory: str, *, size: int = 480) -> list[str]:
        """Render one PNG per cluster PFSA; returns paths (full parity
        with ``generate_PFSA_pngs``, ``patternly/detection.py:256-269`` —
        the reference shells out to DrawPFSA/graphviz; this renderer is
        self-contained numpy + stdlib-zlib, see pfsa/draw.py)."""
        from patternly_spark.pfsa.draw import draw_pfsa_png

        if not self.fitted:
            raise ValueError("Model has not been fit yet.")
        os.makedirs(directory, exist_ok=True)
        return [
            draw_pfsa_png(m, os.path.join(directory, f"pfsa_{m.pfsa_id}.png"), size=size)
            for m in self.library
        ]

    def predicted_active_pfsas(self, predictions: DataFrame) -> DataFrame:
        """A5: inverted index {pfsa -> sorted [seq_id]}."""
        return (
            predictions.groupBy("closest_match")
            .agg(F.array_sort(F.collect_list("seq_id")).alias("seq_ids"))
            .withColumnRenamed("closest_match", "pfsa_id")
        )

    # ------------------------------------------------------------------
    def _extra_user_params(self) -> dict:
        """Constructor kwargs a subclass adds (persisted alongside the
        base params so ``load_model`` reconstructs the same windowing)."""
        return {}

    def _extra_state(self) -> dict:
        """Fitted state a subclass adds beyond the base attributes."""
        return {}

    def _restore_extra_state(self, state: dict) -> None:
        pass

    def save_model(self, path: str) -> None:
        """S4: params JSON + library (MLlib save convention, no dill)."""
        os.makedirs(path, exist_ok=True)
        blob = {
            "user_params": {
                "anomaly_sensitivity": self.anomaly_sensitivity,
                "n_clusters": self.n_clusters,
                "reduce_clusters": self.reduce_clusters,
                "quantize": self.quantize,
                "quantize_type": self.quantize_type,
                "n_symbols": self.n_symbols,
                "detrend": self.detrend,
                "quantize_exact": self.quantize_exact,
                "eps": self.eps,
                "seed": self.seed,
                **self._extra_user_params(),
            },
            "extra_state": self._extra_state(),
            "fitted": self.fitted,
            "quantizer": None if self.quantizer is None else self.quantizer.to_dict(),
            "library": [m.to_dict() for m in self.library],
            "pfsa_llk_means": None if self.pfsa_llk_means is None else self.pfsa_llk_means.tolist(),
            "pfsa_llk_stds": None if self.pfsa_llk_stds is None else self.pfsa_llk_stds.tolist(),
            "alphabet_size": self.alphabet_size,
            "cluster_counts": self.cluster_counts,
        }
        with open(os.path.join(path, "model.json"), "w") as f:
            json.dump(blob, f)

    @classmethod
    def load_model(cls, path: str, spark: SparkSession | None = None) -> "AnomalyDetection":
        with open(os.path.join(path, "model.json")) as f:
            blob = json.load(f)
        inst = cls(spark, **blob["user_params"])
        inst.fitted = blob["fitted"]
        inst.quantizer = Quantizer.from_dict(blob["quantizer"]) if blob["quantizer"] else None
        inst.library = [PFSA.from_dict(d) for d in blob["library"]]
        inst.pfsa_llk_means = np.array(blob["pfsa_llk_means"]) if blob["pfsa_llk_means"] else None
        inst.pfsa_llk_stds = np.array(blob["pfsa_llk_stds"]) if blob["pfsa_llk_stds"] else None
        inst.alphabet_size = blob["alphabet_size"]
        inst.cluster_counts = blob["cluster_counts"]
        inst._restore_extra_state(blob.get("extra_state", {}))
        return inst


class StreamingDetection(AnomalyDetection):
    """Single-stream detection: chop into (overlapping) windows, then run
    the batch pipeline (detection.py:550-613)."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        *,
        window_size: int = 1000,
        window_overlap: int = 0,
        offsets_are_positions: bool = False,
        **kwargs,
    ) -> None:
        super().__init__(spark, **kwargs)
        self.window_size = int(window_size)
        self.window_overlap = int(window_overlap)
        # True => the offset column is already the dense 0-based stream
        # position (e.g. a log offset): window assignment becomes pure
        # per-row arithmetic, skipping the distributed ranking pass
        self.offsets_are_positions = bool(offsets_are_positions)

    def _extra_user_params(self) -> dict:
        return {
            "window_size": self.window_size,
            "window_overlap": self.window_overlap,
            "offsets_are_positions": self.offsets_are_positions,
        }

    def _split(self, df: DataFrame) -> DataFrame:
        """(offset long, value double|symbol int) -> (seq_id, values|symbols)."""
        value_col = "value" if "value" in df.columns else "symbol"
        windowed = split_stream(
            df,
            window_size=self.window_size,
            window_overlap=self.window_overlap,
            order_col="offset",
            row_number_is_offset=self.offsets_are_positions,
        )
        if value_col == "value":
            # keep continuous doubles end-to-end; quantization happens
            # downstream (a tinyint cast here would overflow/corrupt raw
            # values — caught by the streaming save/load regression test)
            seqs = windows_to_sequences(windowed, symbol_col=value_col, element_type="double")
            return seqs.withColumnRenamed("symbols", "values")
        return windows_to_sequences(windowed, symbol_col=value_col)

    def fit(self, df: DataFrame, y=None) -> "StreamingDetection":
        return super().fit(self._split(df))

    def predict(self, df: DataFrame | None = None) -> DataFrame:
        if df is None:
            return super().predict()
        return super().predict(self._split(df))


class MultiChannelDetection:
    """J5 / Satellite-notebook pattern: one independent detector per
    channel of a multivariate stream (``examples/Satellite Analysis.ipynb``
    cell 4 fits one StreamingDetection per energy band).

    Input layout: (channel string, offset long, value double).  Channels
    are fitted independently — the per-channel pipelines are driver-
    orchestrated but each one's heavy lifting is distributed, and
    channels could be dispatched concurrently from multiple threads.
    """

    def __init__(self, spark: SparkSession | None = None, **kwargs) -> None:
        self.spark = spark
        self.kwargs = kwargs
        self.models: dict[str, StreamingDetection] = {}

    def fit(self, df: DataFrame, *, max_parallel: int = 4) -> "MultiChannelDetection":
        """Channels are independent, so their fits are dispatched from a
        driver thread pool — Spark job submission is thread-safe, and the
        scheduler interleaves the per-channel stages across the cluster
        instead of running them serially (the reference fits channels in
        a Python for-loop, Satellite nb cell 4)."""
        from concurrent.futures import ThreadPoolExecutor

        self.spark = self.spark or df.sparkSession
        channels = [r["channel"] for r in df.select("channel").distinct().orderBy("channel").collect()]

        def fit_one(ch: str):
            sub = df.filter(F.col("channel") == ch).select("offset", "value")
            m = StreamingDetection(self.spark, **self.kwargs)
            m.fit(sub)
            return ch, m

        with ThreadPoolExecutor(max_workers=min(max_parallel, max(len(channels), 1))) as pool:
            for ch, m in pool.map(fit_one, channels):
                self.models[ch] = m
        return self

    def predict(self, df: DataFrame | None = None) -> DataFrame:
        """-> (channel, seq_id, anomaly, closest_match): union of the
        per-channel verdicts."""
        out: DataFrame | None = None
        for ch, m in self.models.items():
            sub = None if df is None else df.filter(F.col("channel") == ch).select("offset", "value")
            preds = m.predict(sub).withColumn("channel", F.lit(ch))
            out = preds if out is None else out.unionByName(preds)
        return out.select("channel", "seq_id", "anomaly", "closest_match")

    @staticmethod
    def _channel_dir(ch: str) -> str:
        """Path-safe directory component for a channel name: percent-encode
        everything outside [A-Za-z0-9_-] so names with '/', '..', spaces,
        etc. cannot escape or collide; the original name lives in the
        manifest."""
        from urllib.parse import quote

        return "channel_" + quote(str(ch), safe="")

    def save_model(self, path: str) -> None:
        """One model dir per channel + a channel manifest."""
        os.makedirs(path, exist_ok=True)
        dirs = {ch: self._channel_dir(ch) for ch in self.models}
        manifest = {"channels": sorted(self.models), "channel_dirs": dirs,
                    "kwargs": self.kwargs}
        with open(os.path.join(path, "channels.json"), "w") as f:
            json.dump(manifest, f)
        for ch, m in self.models.items():
            m.save_model(os.path.join(path, dirs[ch]))

    @classmethod
    def load_model(cls, path: str, spark: SparkSession | None = None) -> "MultiChannelDetection":
        with open(os.path.join(path, "channels.json")) as f:
            manifest = json.load(f)
        inst = cls(spark, **manifest["kwargs"])
        # older saves predate channel_dirs and used the raw name
        dirs = manifest.get("channel_dirs") or {ch: f"channel_{ch}" for ch in manifest["channels"]}
        for ch in manifest["channels"]:
            inst.models[ch] = StreamingDetection.load_model(
                os.path.join(path, dirs[ch]), spark
            )
        return inst


class ContinuousStreamingDetection(StreamingDetection):
    """Online library growth over an ordered stream (detection.py:616-734).

    The per-window loop has a genuine sequential dependency (window i+1 is
    scored against models minted at <= i), so the driver iterates over
    collected windows — each window is tiny (window_size symbols); the
    expensive parts (chop + quantize) stay distributed.  The Structured
    Streaming variant lives in patternly_spark.streaming.

    Reference-bug fix: per-model llk mean/std lists are appended per mint
    (the reference overwrites the whole array with the newest model's
    scalars, detection.py:733-734).
    """

    def __init__(self, spark: SparkSession | None = None, **kwargs) -> None:
        super().__init__(spark, **kwargs)
        self.pattern_emergence_times: list[int] = []
        self._means: list[float] = []
        self._stds: list[float] = []

    def _extra_state(self) -> dict:
        return {
            "pattern_emergence_times": self.pattern_emergence_times,
            "means": self._means,
            "stds": self._stds,
        }

    def _restore_extra_state(self, state: dict) -> None:
        self.pattern_emergence_times = list(state.get("pattern_emergence_times", []))
        self._means = list(state.get("means", []))
        self._stds = list(state.get("stds", []))

    def _mint(self, window_syms: np.ndarray) -> None:
        model = genesess([window_syms], eps=self.eps, alphabet_size=self.alphabet_size, pfsa_id=len(self.library))
        self.library.append(model)
        # ST3 bootstrap: 100 simulated sequences of window length + the
        # triggering window (detection.py:730-734), seeded => deterministic
        sims = simulate(model, len(window_syms), 100, seed=self.seed + len(self.library))
        llks = llk_batch([window_syms] + sims, model)
        finite = llks[np.isfinite(llks)]
        self._means.append(float(np.mean(finite)))
        self._stds.append(float(np.std(finite, ddof=1)))

    def fit_stream(self, df: DataFrame) -> "ContinuousStreamingDetection":
        self.pattern_emergence_times = []
        seqs = self._split(df)
        quantized = super()._quantize(seqs)
        if self.alphabet_size is None:
            max_sym = quantized.select(F.max(F.array_max("symbols"))).first()[0]
            if max_sym is None:
                raise ValueError(
                    "stream shorter than window_size: no complete windows to fit"
                )
            self.alphabet_size = int(max_sym) + 1
        # The per-window loop is sequentially dependent by reference
        # semantics (models minted at window <= i score window i+1), so it
        # runs on the driver — but only one sorted partition of tiny
        # windows is resident at a time (toLocalIterator), not the whole
        # stream: chop + quantize + sort stay distributed, and the driver's
        # memory footprint is bounded regardless of stream length.
        it = quantized.orderBy("seq_id").toLocalIterator(prefetchPartitions=True)
        i = -1
        for i, r in enumerate(it):
            syms = np.asarray(r["symbols"], dtype=np.int8)
            if not self.fitted:
                # first window ever seen: mint, then score it like any other
                self.fitted = True
                self._mint(syms)
                self.pattern_emergence_times.append(0)
            llks = np.array([llk_batch([syms], m)[0] for m in self.library])
            bounds = np.array(self._means) + np.array(self._stds) * self.anomaly_sensitivity
            if np.all(llks > bounds):
                self.pattern_emergence_times.append(i)
                self._mint(syms)
        if i < 0:
            raise ValueError(
                "stream shorter than window_size: no complete windows to fit"
            )

        self.n_clusters = len(self.library)
        self.pfsa_llk_means = np.array(self._means)
        self.pfsa_llk_stds = np.array(self._stds)
        return self
