"""Per-sequence negative log-likelihood under a PFSA (Alg. 1, tex/ms.tex:261-282).

This is the engine's workhorse kernel (reference operator X2, invoked at
``patternly/detection.py:141,:424,:486,:668,:676,:732``).  The recurrence:

    p   <- stationary distribution of Pi_G          (once per model)
    for each symbol s in x:
        phi  = p^T Pitilde                          (distribution on symbols)
        L   -= log(phi[s])
        p    = normalize_1(p . Gamma_s)
    return L / n

``llk_matrix`` advances every (sequence, model) pair one step at a time,
all pairs together.  A pair whose state distribution is spread takes a
dense step: p . Gamma_s scatters p[q] * pitilde[q, s] onto delta(q, s),
one ``bincount`` over all such pairs.  Once that leaves a point mass (one
non-zero state, hence exactly 1.0) the pair moves to an integer path,
``L -= log pitilde[q, s]; q = delta(q, s)``, one table gather per step.
On a point mass the dense math multiplies by 1.0 and adds exact zeros,
so both paths give the same bits, and under a deterministic PFSA a point
mass stays one; synchronizing machines (GenESeSS fits, the SLD base set)
get there within a few steps.

``score_matrix`` is the Spark side: one ``mapInArrow`` pass with the tiny
library in the task closure (no shuffle, no join), each Arrow batch packed
once, emitting ``llk array<double>`` per sequence in library order.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from patternly_spark.pfsa.model import PFSA


def llk_one(symbols: Sequence[int], model: PFSA) -> float:
    """Reference-shaped scalar implementation (used by tests as the oracle
    for the vectorized kernel)."""
    syms = np.asarray(symbols, dtype=np.int64)
    n = len(syms)
    if n == 0:
        return float("inf")
    if syms.min() < 0 or syms.max() >= model.alphabet_size:
        # alphabet-incompatible sequence: unscorable -> inf
        # (reference realigns and pads with inf, detection.py:142-144)
        return float("inf")
    p = model.stationary().copy()
    pit, cnx = model.pitilde, model.connx
    L = 0.0
    for s in syms:
        phi = p @ pit
        if phi[s] <= 0.0:
            return float("inf")
        L -= np.log(phi[s])
        p_new = np.zeros_like(p)
        np.add.at(p_new, cnx[:, s], p * pit[:, s])
        tot = p_new.sum()
        if tot <= 0.0:
            return float("inf")
        p = p_new / tot
    return float(L / n)


def pack(values: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Row-major (n, max_len) symbol matrix from a flat values buffer and
    per-row lengths, padded with 0 (rows are read only up to their
    length).  Equal lengths reshape the buffer without a copy."""
    n = len(lens)
    max_len = int(lens.max()) if n else 0
    if n and (lens == max_len).all():
        return values.reshape(n, max_len)
    packed = np.zeros((n, max_len), dtype=values.dtype)
    packed[np.arange(max_len) < lens[:, None]] = values
    return packed


def llk_matrix(
    packed: np.ndarray, lens: np.ndarray, models: Sequence[PFSA], *, log_quantize_bits: int | None = None
) -> np.ndarray:
    """Negative log-likelihood of every sequence under every model.

    ``packed`` is an (n, max_len) integer symbol matrix, row ``i`` valid
    up to ``lens[i]``.  Returns float64 (n, len(models)), inf where the
    sequence is empty, holds a symbol outside the model's alphabet, or
    reaches a zero-probability step.

    ``log_quantize_bits``: floor each per-step log-probability to the
    2^-bits grid before accumulating.  Quantized terms are dyadic
    rationals, so their sum is EXACT in float64 and order-independent —
    which makes the score reproducible bit-for-bit by an external SQL
    oracle (the same cross-engine-ln trick as BM25's idf quantization,
    operators/retrieval.py::_quantize_idf).  At 20 bits the perturbation
    per step is < 1e-6 — far below the anomaly thresholds — while the
    default (None) keeps full-precision semantics.
    """
    lens = np.asarray(lens, dtype=np.int64)
    n, M = len(lens), len(models)
    out = np.full((n, M), np.inf)
    max_len = int(lens.max()) if n else 0
    if max_len == 0 or M == 0:
        return out

    nq = max(m.n_states for m in models)
    k = max(m.alphabet_size for m in models)
    # library tables, zero-padded to (nq states, k symbols): a padded
    # symbol has probability 0, so a symbol outside one model's alphabet
    # scores inf under it through the ordinary zero-probability rule
    pit = np.zeros((M, k, nq))  # pit[m, s, q] = pitilde_m[q, s]
    tgt = np.zeros((M, k, nq), dtype=np.int64)  # tgt[m, s, q] = delta_m(q, s)
    p0 = np.zeros((M, nq))
    for i, m in enumerate(models):
        pit[i, : m.alphabet_size, : m.n_states] = m.pitilde.T
        tgt[i, : m.alphabet_size, : m.n_states] = m.connx.T
        p0[i, : m.n_states] = m.stationary()
    scale = None if log_quantize_bits is None else float(1 << log_quantize_bits)

    def log_step(pr: np.ndarray) -> np.ndarray:
        with np.errstate(divide="ignore"):
            step = np.log(pr)
        return step if scale is None else np.floor(step * scale) / scale

    # integer path: z = (m * nq + q) * k; table entry z + s holds the
    # step's log-probability and the next z
    log_tab = log_step(pit.transpose(0, 2, 1).ravel())
    z_next = ((np.arange(M)[:, None, None] * nq + tgt.transpose(0, 2, 1)) * k).ravel()
    pit_ms = pit.reshape(M * k, nq)
    tgt_ms = tgt.reshape(M * k, nq)

    row_ok = (lens > 0) & (packed.min(axis=1) >= 0) & (packed.max(axis=1) < k)
    # spread pairs (sequence row, model, distribution, L) and point-mass
    # pairs (sequence row, z, L); every pair starts spread, at p0
    d_row = np.repeat(np.nonzero(row_ok)[0], M)
    d_mod = np.tile(np.arange(M), len(d_row) // M)
    d_P, d_L = p0[d_mod], np.zeros(len(d_row))
    p_row, p_z, p_L = np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0)
    ends = set(np.unique(lens[row_ok]).tolist())

    for t in range(max_len):
        col = packed[:, t]
        if len(p_row):
            f = p_z + col[p_row]
            p_L -= log_tab[f]
            p_z = z_next[f]
        if len(d_row):
            ms = d_mod * k + col[d_row]
            C = d_P * pit_ms[ms]  # p[q] * pitilde[q, s]
            d_L -= log_step(C.sum(axis=1))
            flat = (np.arange(len(d_row)) * nq)[:, None] + tgt_ms[ms]
            P = np.bincount(flat.ravel(), C.ravel(), len(d_row) * nq).reshape(-1, nq)
            norm = P.sum(axis=1)
            live = norm > 0.0  # a zero-probability step left L = inf: drop the pair
            d_row, d_mod, d_L, d_P = d_row[live], d_mod[live], d_L[live], P[live] / norm[live, None]
            point = np.count_nonzero(d_P, axis=1) == 1
            if point.any():
                p_row = np.concatenate([p_row, d_row[point]])
                p_z = np.concatenate([p_z, (d_mod[point] * nq + d_P[point].argmax(axis=1)) * k])
                p_L = np.concatenate([p_L, d_L[point]])
                d_row, d_mod, d_P, d_L = d_row[~point], d_mod[~point], d_P[~point], d_L[~point]
        if t + 1 in ends:
            done = lens[p_row] == t + 1
            out[p_row[done], p_z[done] // (nq * k)] = p_L[done] / (t + 1)
            p_row, p_z, p_L = p_row[~done], p_z[~done], p_L[~done]
            done = lens[d_row] == t + 1
            out[d_row[done], d_mod[done]] = d_L[done] / (t + 1)
            d_row, d_mod, d_P, d_L = d_row[~done], d_mod[~done], d_P[~done], d_L[~done]
    return out


def llk_batch(sequences: Iterable[Sequence[int]], model: PFSA, *, log_quantize_bits: int | None = None) -> np.ndarray:
    """Negative log-likelihood of many sequences (of any lengths) under one
    model: ``llk_matrix`` with a one-model library; inf for empty /
    alphabet-incompatible / zero-probability sequences."""
    seqs = [np.asarray(s, dtype=np.int64).ravel() for s in sequences]
    lens = np.array([len(s) for s in seqs], dtype=np.int64)
    values = np.concatenate([np.empty(0, np.int64)] + seqs)
    return llk_matrix(pack(values, lens), lens, [model], log_quantize_bits=log_quantize_bits)[:, 0]


def score_matrix(
    seq_df: DataFrame,
    models: list[PFSA],
    *,
    seq_col: str = "symbols",
    keep: Sequence[str] = ("seq_id",),
    log_quantize_bits: int | None = None,
) -> DataFrame:
    """Score every sequence (``seq_col``, array<tinyint|int>) under every
    library PFSA.  Output: the ``keep`` columns, unchanged, plus ``llk
    array<double>``, ``llk[j]`` the score under ``models[j]`` (+inf when
    unscorable, SURVEY J2 + P3).  Plan: one MapInArrow over the input
    partitioning — no shuffle, no join."""
    import pyarrow as pa

    keep = list(keep)
    payload = [m.to_dict() for m in models]
    n_models = len(models)
    llk_field = T.StructField("llk", T.ArrayType(T.DoubleType(), False), False)
    schema = T.StructType([seq_df.schema[c] for c in keep] + [llk_field])

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        mdl = [PFSA.from_dict(d) for d in payload]
        for b in batches:
            seqs = b.column(seq_col)
            offsets = seqs.offsets.to_numpy()
            lens = np.diff(offsets).astype(np.int64)
            values = seqs.values.to_numpy(zero_copy_only=False)[offsets[0] : offsets[-1]]
            scores = llk_matrix(pack(values, lens), lens, mdl, log_quantize_bits=log_quantize_bits)
            llk = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (len(lens) + 1) * n_models, n_models, dtype=np.int32)),
                pa.array(scores.ravel()),
            )
            yield pa.RecordBatch.from_arrays([b.column(c) for c in keep] + [llk], names=keep + ["llk"])

    cols = keep + ([seq_col] if seq_col not in keep else [])
    return seq_df.select(*cols).mapInArrow(run, schema=schema)


def score_sequences(
    seq_df: DataFrame, models: list[PFSA], *, seq_col: str = "symbols", id_col: str = "seq_id",
    log_quantize_bits: int | None = None,
) -> DataFrame:
    """Long form of ``score_matrix``: (seq_id, pfsa_id, llk double), one
    row per (sequence, model) pair — still one narrow pass, the array is
    exploded in place."""
    ids = F.array(*[F.lit(int(m.pfsa_id)) for m in models])
    scored = score_matrix(seq_df, models, seq_col=seq_col, keep=(id_col,), log_quantize_bits=log_quantize_bits)
    return scored.select(F.col(id_col).alias("seq_id"), F.posexplode("llk").alias("pos", "llk")).select(
        "seq_id", ids[F.col("pos")].alias("pfsa_id"), "llk"
    )
