"""Seeded input generators for the detector benchmark.

Every input is drawn from first-order Markov chains over a small symbol
alphabet with numpy's ``default_rng``; the package's own simulator is never
called, so a change to ``pfsa.simulate`` cannot change what is measured.
A seed is a tuple of ints (the run's seed plus a tag naming the input),
so one run seed yields independent streams for training, test and
warm-up inputs.  The same seed always gives the same arrays; different
seeds give different ones.
"""

from __future__ import annotations

import itertools

import numpy as np


def chain_matrix(targets, peak: float) -> np.ndarray:
    """Row-stochastic matrix sending symbol ``s`` to ``targets[s]`` with
    probability ``peak`` and spreading the rest evenly over the others."""
    k = len(targets)
    m = np.full((k, k), (1.0 - peak) / (k - 1))
    m[np.arange(k), list(targets)] = peak
    return m


# score_library: four regimes in the library, one outside it.  Every row
# is peaked somewhere other than where the planted regime puts its mass.
LIBRARY_REGIMES = [
    chain_matrix([0, 1, 2], 0.8),  # sticky
    chain_matrix([1, 2, 0], 0.8),  # cyclic
    chain_matrix([2, 0, 1], 0.8),  # reverse cyclic
    chain_matrix([0, 1, 2], 0.6),  # loosely sticky
]
PLANTED_REGIME = np.array([[0.0, 0.5, 0.5], [0.5, 0.0, 0.5], [0.5, 0.5, 0.0]])

# stream_live: one regime per permutation of five symbols.
STREAM_ALPHABET = 5
STREAM_PEAK = 0.85
STREAM_PERMUTATIONS = list(itertools.permutations(range(STREAM_ALPHABET)))


def markov_sequences(rng: np.random.Generator, trans: np.ndarray, n_seqs: int, length: int) -> np.ndarray:
    """(n_seqs, length) int8 symbols; all sequences advance together."""
    k = trans.shape[0]
    cum = np.cumsum(trans, axis=1)
    cum[:, -1] = 1.0
    out = np.empty((n_seqs, length), dtype=np.int8)
    state = rng.integers(0, k, n_seqs)
    for t in range(length):
        out[:, t] = state
        u = rng.random(n_seqs)
        state = (u[:, None] >= cum[state]).sum(axis=1)
    return out


def library_sequences(seed: tuple, n_seqs: int, length: int = 200, planted_frac: float = 0.0):
    """Sequences from the library regimes, with ``planted_frac`` of them
    from the planted regime.  Returns (symbols (n, length) int8,
    planted (n,) bool), in shuffled order."""
    rng = np.random.default_rng(seed)
    n_planted = int(round(n_seqs * planted_frac))
    per = np.full(len(LIBRARY_REGIMES), (n_seqs - n_planted) // len(LIBRARY_REGIMES))
    per[: (n_seqs - n_planted) % len(LIBRARY_REGIMES)] += 1
    blocks = [markov_sequences(rng, t, int(n), length) for t, n in zip(LIBRARY_REGIMES, per)]
    blocks.append(markov_sequences(rng, PLANTED_REGIME, n_planted, length))
    symbols = np.concatenate(blocks)
    planted = np.zeros(n_seqs, dtype=bool)
    planted[n_seqs - n_planted:] = True
    order = rng.permutation(n_seqs)
    return symbols[order], planted[order]


# fit probe: a continuous signal whose three trained regimes and one
# novel regime are level sequences -1/0/+1 plus Gaussian noise, so that
# equiprobable 3-symbol quantization recovers the levels.
SIGNAL_REGIMES = LIBRARY_REGIMES[:3]
NOVEL_SIGNAL_REGIME = PLANTED_REGIME


def regime_signal(seed: tuple, regimes: list[int], segment: int, noise: float = 0.15):
    """Concatenated segments, one per entry of ``regimes`` (index into
    SIGNAL_REGIMES, or -1 for the novel regime).  Returns (values float64,
    regime per point int)."""
    rng = np.random.default_rng(seed)
    parts, labels = [], []
    for r in regimes:
        trans = NOVEL_SIGNAL_REGIME if r < 0 else SIGNAL_REGIMES[r]
        parts.append(markov_sequences(rng, trans, 1, segment)[0])
        labels.append(np.full(segment, r))
    levels = np.concatenate(parts).astype(np.float64) - 1.0
    return levels + rng.normal(0.0, noise, levels.size), np.concatenate(labels)


def stream_key(index: int, slot: int, n_keys: int) -> tuple[int, int]:
    """(generation, phase) of key ``slot`` in file ``index``.  Each key
    lives for two files: in phase 0 it is new (the detector mints its
    first model), in phase 1 it switches regime (the detector must mint
    again).  Half the slots are one file out of step, so every file holds
    as many new keys as switching ones, and no key's library grows past
    two models."""
    t = index + (slot >= n_keys // 2)
    return t // 2, t % 2


def stream_file(seed: tuple, index: int, n_keys: int, windows: int, size: int, prefix: str = "k"):
    """Windows of micro-batch file ``index``: ``windows`` consecutive
    windows of ``size`` symbols per key, numbered ``index * windows`` on.
    Returns a list of (stream_id, window_id, symbols int list) and, per
    key, its phase (0 new, 1 switched)."""
    rows, phases = [], {}
    for slot in range(n_keys):
        generation, phase = stream_key(index, slot, n_keys)
        pair = np.random.default_rng([*seed, generation, slot]).choice(len(STREAM_PERMUTATIONS), 2, replace=False)
        trans = chain_matrix(STREAM_PERMUTATIONS[pair[phase]], STREAM_PEAK)
        rng = np.random.default_rng([*seed, generation, slot, phase])
        seqs = markov_sequences(rng, trans, 1, windows * size)[0]
        key = f"{prefix}{generation}-{slot}"
        for w in range(windows):
            rows.append((key, index * windows + w, seqs[w * size:(w + 1) * size].astype(int).tolist()))
        phases[key] = phase
    return rows, phases
