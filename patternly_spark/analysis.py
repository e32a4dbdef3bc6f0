"""X8 analysis recipe: embed a fitted PFSA library in 2-D and merge
near-identical models by density.

Reference flow (``examples/SleepAnalysis.ipynb`` cells 3-4,
``examples/Satellite Analysis.ipynb`` cell 12): simulate representative
sequences per PFSA -> pairwise Lsmash distances -> external ``bin/embed``
-> PCA to 2-D -> DBSCAN merge.  Spark-first shape: the simulation and
llk featurization are distributed (``simulate_df`` + ``score_matrix``
over the broadcast base library, O(models x reps) narrow work); the
embed/PCA/merge run driver-side on the k x d matrix of per-model mean
features, where k = library size (tens at most) — shipping a k x k
problem to the cluster would be overhead, not scale.

No sklearn dependency: PCA via numpy SVD, merge via a ~20-line
driver-side DBSCAN on the k embedded points.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from patternly_spark.detection import _base_models
from patternly_spark.pfsa.llk import score_matrix
from patternly_spark.pfsa.model import PFSA
from patternly_spark.pfsa.simulate import simulate_df


def pfsa_library_features(
    spark: SparkSession,
    library: list[PFSA],
    *,
    seq_len: int = 500,
    n_reps: int = 20,
    seed: int = 42,
) -> np.ndarray:
    """k x 4 matrix: mean SLD feature vector of ``n_reps`` simulated
    sequences per library model (distributed simulate + score)."""
    alphabet = max(m.alphabet_size for m in library)
    base = _base_models(alphabet)
    per_model = []
    for m in library:
        seqs = simulate_df(spark, m, data_len=seq_len, num_repeats=n_reps, seed=seed + m.pfsa_id)
        llk = F.col("llk")
        means = score_matrix(seqs, base, keep=()).agg(
            *[F.avg(F.when(llk[j] != float("inf"), llk[j])) for j in range(len(base))]
        ).first()
        per_model.append([float(v) for v in means])
    return np.asarray(per_model)


def pca_2d(feats: np.ndarray) -> np.ndarray:
    """Deterministic 2-D PCA via SVD (signs fixed by largest component)."""
    centered = feats - feats.mean(axis=0, keepdims=True)
    u, s, vt = np.linalg.svd(centered, full_matrices=False)
    comps = vt[:2]
    # sign convention: each component's largest-|.| entry positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    coords = centered @ comps.T
    if coords.shape[1] < 2:  # degenerate (k or d < 2)
        coords = np.pad(coords, ((0, 0), (0, 2 - coords.shape[1])))
    return coords


def dbscan_merge(coords: np.ndarray, *, eps: float, min_pts: int = 1) -> list[int]:
    """Tiny driver-side DBSCAN over k points -> cluster label per model
    (noise points get their own singleton labels, matching the
    reference's 'DBSCAN merge' intent of unioning near-identical PFSAs)."""
    k = len(coords)
    labels = [-1] * k
    cur = 0
    for i in range(k):
        if labels[i] != -1:
            continue
        neigh = [j for j in range(k) if np.linalg.norm(coords[i] - coords[j]) <= eps]
        if len(neigh) < min_pts:
            labels[i] = cur
            cur += 1
            continue
        stack = list(neigh)
        labels[i] = cur
        while stack:
            j = stack.pop()
            if labels[j] != -1:
                continue
            labels[j] = cur
            more = [l for l in range(k) if np.linalg.norm(coords[j] - coords[l]) <= eps]
            if len(more) >= min_pts:
                stack.extend(l for l in more if labels[l] == -1)
        cur += 1
    return labels


def embed_library(
    spark: SparkSession,
    library: list[PFSA],
    *,
    seq_len: int = 500,
    n_reps: int = 20,
    merge_eps: float | None = None,
    seed: int = 42,
):
    """-> list of dicts {pfsa_id, x, y[, merged_group]}: the X8 recipe
    end-to-end."""
    feats = pfsa_library_features(spark, library, seq_len=seq_len, n_reps=n_reps, seed=seed)
    coords = pca_2d(feats)
    out = [
        {"pfsa_id": m.pfsa_id, "x": float(coords[i, 0]), "y": float(coords[i, 1])}
        for i, m in enumerate(library)
    ]
    if merge_eps is not None:
        groups = dbscan_merge(coords, eps=merge_eps)
        for row, g in zip(out, groups):
            row["merged_group"] = int(g)
    return out
