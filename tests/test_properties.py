"""Property-based tests (hypothesis) for the deterministic kernels:
windowing arithmetic, quantization, llk math, winnowing.

These check INVARIANTS rather than fixed examples — the window-chop
coverage law from the reference's split_streams (detection.py:596-613),
symbol-domain laws for quantizers, and the llk probability bound.
Driver-side replicas of the column expressions are validated once against
Spark in tests/test_sources_and_plans.py & test_oracle_parity.py; here
hypothesis explores the parameter space cheaply (no Spark job per case:
one shared DataFrame per property, parameters drive plain-Python
replicas of the same arithmetic where exact equivalence is already
pinned elsewhere).
"""

import math

import numpy as np
from hypothesis import example, given, settings, strategies as st

from patternly_spark.pfsa.llk import llk_batch, llk_matrix, llk_one, pack
from patternly_spark.pfsa.model import PFSA
from patternly_spark.pfsa.simulate import simulate


# ---------------------------------------------------------------------------
# W1 window arithmetic: windows containing row rn are
# i in [ceil((rn-size+1)/stride), floor(rn/stride)], capped to full windows.
# Invariants (matching the reference's split_streams):
#   - window i covers rows [i*stride, i*stride + size)
#   - the set of (row -> windows) assignments from the per-row formula is
#     exactly the set from the per-window definition
#   - only windows fully inside the stream survive (trailing drop)
# ---------------------------------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(
    length=st.integers(1, 500),
    size=st.integers(1, 60),
    overlap_frac=st.floats(0.0, 0.95),
)
def test_window_assignment_law(length, size, overlap_frac):
    overlap = min(int(size * overlap_frac), size - 1)
    stride = size - overlap
    n_windows = 0 if length < size else (length - size) // stride + 1

    # per-window definition
    member = {}
    for i in range(n_windows):
        for rn in range(i * stride, i * stride + size):
            member.setdefault(rn, set()).add(i)

    # per-row formula (what split_stream computes)
    for rn in range(length):
        lo = max(0, math.ceil((rn - size + 1) / stride))
        hi = rn // stride
        wins = {i for i in range(lo, hi + 1) if i < n_windows}
        assert wins == member.get(rn, set()), (rn, size, stride)


# ---------------------------------------------------------------------------
# F1/F2 simple quantizer law: diff+sign of any real sequence is in {0,1},
# first symbol is 0 (diff fillna(0) -> not > 0), and the symbol at t>0 is
# 1 iff x[t] > x[t-1] (replicating detection.py:291-296).
# ---------------------------------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(st.lists(st.floats(-1e6, 1e6, allow_nan=False), min_size=1, max_size=100))
def test_simple_quantizer_law(values):
    x = np.asarray(values)
    d = np.diff(x, prepend=x[0])
    syms = (d > 0).astype(np.int8)
    assert syms[0] == 0
    assert set(np.unique(syms)) <= {0, 1}
    for t in range(1, len(x)):
        assert syms[t] == (1 if x[t] > x[t - 1] else 0)


# ---------------------------------------------------------------------------
# F4 complex quantizer: equi-probable cut-points produce all symbols in
# [0, n_symbols) and are monotone in the input.
# ---------------------------------------------------------------------------

@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.floats(-1e3, 1e3, allow_nan=False), min_size=20, max_size=300, unique=True),
    st.integers(2, 6),
)
def test_complex_quantizer_law(values, n_symbols):
    from patternly_spark.functions.quantize import Quantizer

    x = np.asarray(values)
    probs = [i / n_symbols for i in range(1, n_symbols)]
    cuts = np.quantile(x, probs, method="lower").tolist()
    q = Quantizer(quantize_type="complex", n_symbols=n_symbols, cutpoints=cuts, fitted=True)
    syms = np.array([sum(v > c for c in cuts) for v in x])
    assert syms.min() >= 0 and syms.max() < n_symbols
    order = np.argsort(x)
    assert (np.diff(syms[order]) >= 0).all(), "quantization must be monotone"


# ---------------------------------------------------------------------------
# X2 llk laws: for any PFSA and any symbol sequence over its alphabet,
# the per-symbol negative log-likelihood is >= 0 (probabilities <= 1),
# finite when every row of pitilde is strictly positive, and equals the
# closed form -log(p^T pitilde)[s] for length-1 sequences.
# ---------------------------------------------------------------------------

pfsa_strategy = st.builds(
    lambda rows, flip: PFSA(
        pitilde=[[r, 1.0 - r] for r in rows],
        connx=[[0, 1], [1, 0]] if flip else [[0, 1], [0, 1]],
    ),
    st.lists(st.floats(0.05, 0.95), min_size=2, max_size=2),
    st.booleans(),
)


@settings(max_examples=150, deadline=None)
@given(
    pfsa_strategy,
    st.lists(st.integers(0, 1), min_size=1, max_size=50),
)
def test_llk_bounds_and_singleton_closed_form(model, symbols):
    nll = llk_one(symbols, model)
    assert nll >= -1e-12
    assert math.isfinite(nll)
    p = model.stationary()
    expected_first = -math.log((p @ model.pitilde)[symbols[0]])
    if len(symbols) == 1:
        assert abs(nll - expected_first) < 1e-9


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 2**31 - 1))
def test_llk_separation_property(seed):
    """Sequences simulated from G score better (lower nll) under G than
    under a far-away H, on average (SLD theorem, tex/ms.tex:157-164)."""
    G = PFSA(pitilde=[[0.9, 0.1], [0.1, 0.9]], connx=[[0, 1], [1, 0]])
    H = PFSA(pitilde=[[0.3, 0.7], [0.7, 0.3]], connx=[[0, 1], [1, 0]])
    seqs = simulate(G, 300, 5, seed=seed)
    under_g = llk_batch(seqs, G).mean()
    under_h = llk_batch(seqs, H).mean()
    assert under_g < under_h


# ---------------------------------------------------------------------------
# llk_matrix == llk_one for every (sequence, model) pair: random PFSAs of
# different sizes and alphabets in one library, with zero-probability
# entries and delta a permutation on some (or all) symbols — an
# all-permutation machine never leaves a spread distribution, so the
# dense path runs to the end; sequences of unequal length, empty, and
# with symbols outside an alphabet (negative, or >= k).
# ---------------------------------------------------------------------------

@st.composite
def _random_pfsa(draw):
    nq = draw(st.integers(1, 5))
    k = draw(st.integers(2, 4))
    weights = draw(st.lists(st.sampled_from([0.0, 0.1, 0.5, 1.0, 2.0, 3.7]), min_size=nq * k, max_size=nq * k))
    pit = np.asarray(weights).reshape(nq, k)
    pit[pit.sum(axis=1) == 0, 0] = 1.0
    cnx = np.asarray(draw(st.lists(st.integers(0, nq - 1), min_size=nq * k, max_size=nq * k))).reshape(nq, k)
    for s in range(k):
        if draw(st.booleans()):
            cnx[:, s] = draw(st.permutations(range(nq)))
    return PFSA(pitilde=pit / pit.sum(axis=1, keepdims=True), connx=cnx)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(_random_pfsa(), min_size=1, max_size=3),
    st.lists(st.lists(st.integers(-1, 4), max_size=25), min_size=1, max_size=8),
    st.booleans(),
)
# a zero-probability step while the distribution is still spread, with
# steps after it: the pair must score inf, not nan
@example([PFSA(pitilde=[[1.0, 0.0], [1.0, 0.0]], connx=[[1, 0], [0, 1]])], [[0, 1, 0], [0, 0]], False)
def test_llk_matrix_matches_scalar_oracle(models, seqs, one_length):
    if one_length:
        seqs = [s[: min(map(len, seqs))] for s in seqs]
    lens = np.array([len(s) for s in seqs], dtype=np.int64)
    values = np.array([v for s in seqs for v in s], dtype=np.int8)
    got = llk_matrix(pack(values, lens), lens, models)
    assert got.shape == (len(seqs), len(models))
    for j, m in enumerate(models):
        want = np.array([llk_one(s, m) for s in seqs])
        assert np.array_equal(np.isinf(got[:, j]), np.isinf(want))
        fin = np.isfinite(want)
        np.testing.assert_allclose(got[fin, j], want[fin], rtol=1e-12, atol=0)
        # the one-model call is the same kernel
        assert np.array_equal(llk_batch(seqs, m), got[:, j])


# ---------------------------------------------------------------------------
# Winnowing guarantee (Schleimer et al.): every window of `window`
# consecutive k-grams contributes its min hash, so any two documents
# sharing a run of window+kgram-1 tokens share >= 1 fingerprint.
# ---------------------------------------------------------------------------

@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.sampled_from("ab"), min_size=12, max_size=40),
    st.integers(0, 5),
)
def test_winnow_shared_run_shares_fingerprint(core, pad):
    import hashlib

    kgram, window = 3, 4

    def fps(tokens):
        grams = [" ".join(tokens[i:i + kgram]) for i in range(max(len(tokens) - kgram + 1, 1))] \
            if len(tokens) >= kgram else [" ".join(tokens)]
        h = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams]
        n_win = max(len(h) - window + 1, 1)
        return {min(h[i:i + window]) for i in range(n_win)}

    run = list(core)  # shared token run, len >= window + kgram - 1 = 6
    doc_a = ["x%d" % i for i in range(pad)] + run
    doc_b = run + ["y%d" % i for i in range(pad)]
    assert fps(doc_a) & fps(doc_b), "shared long run must share a fingerprint"


# ---------------------------------------------------------------------------
# C3 sequence-packing arithmetic: the closed-form block coordinates must
# equal a token-at-a-time simulation of laying documents into blocks.
# (Spark/SQL equivalence of the same formulas is pinned in
# test_curation.py and the q35/q37 oracles; hypothesis explores the
# arithmetic's edge cases: empty docs, budget=1, exact-boundary fits.)
# ---------------------------------------------------------------------------

@settings(max_examples=300, deadline=None)
@given(
    toks=st.lists(st.integers(0, 40), min_size=1, max_size=80),
    budget=st.integers(1, 50),
)
def test_packing_block_arithmetic_law(toks, budget):
    pos = 0
    for n in toks:
        start = pos
        bin_id = start // budget
        offset = start % budget
        end = start + max(n - 1, 0)
        spans = end // budget - bin_id + 1
        # independent reference: which blocks do this doc's tokens touch?
        touched = {(start + j) // budget for j in range(n)} or {start // budget}
        assert bin_id == min(touched)
        assert spans == len(touched) == max(touched) - min(touched) + 1
        assert 0 <= offset < budget and offset == start - bin_id * budget
        pos += n


# ---------------------------------------------------------------------------
# Dataset fingerprint: the checksum is an integer SUM of 60-bit per-row
# md5 prefixes, so fingerprints are ADDITIVE over a disjoint partition of
# the rows — checksum(union) == sum of part checksums (mod nothing: the
# decimal sum never wraps), and n_rows/n_bytes add likewise.  Replica of
# the arithmetic in operators/merge.dataset_fingerprint.
# ---------------------------------------------------------------------------

def _fp_replica(rows):
    import hashlib

    n_bytes = sum(len(t) for _, t in rows)
    csum = sum(
        int(hashlib.md5(f"{i}:{t}".encode("utf-8")).hexdigest()[:15], 16)
        for i, t in rows
    )
    return len(rows), n_bytes, csum


@settings(max_examples=100, deadline=None)
@given(
    texts=st.lists(st.text(alphabet="abc XYZ09", max_size=40), min_size=1, max_size=30),
    cut=st.integers(0, 29),
)
def test_fingerprint_additivity_law(texts, cut):
    rows = list(enumerate(texts))
    k = min(cut, len(rows))
    n_a, b_a, c_a = _fp_replica(rows[:k])
    n_b, b_b, c_b = _fp_replica(rows[k:])
    n_u, b_u, c_u = _fp_replica(rows)
    assert (n_a + n_b, b_a + b_b, c_a + c_b) == (n_u, b_u, c_u)


# ---------------------------------------------------------------------------
# Boilerplate removal law (plain replica of the span semantics): for any
# corpus and threshold, (a) kept spans per doc never exceed total spans,
# (b) a span's occurrences are either ALL kept or ALL dropped (the
# frequency rule is global), and (c) raising max_doc_freq never drops
# more.
# ---------------------------------------------------------------------------

def _boiler_replica(docs, max_doc_freq):
    from collections import Counter

    spans = {i: [s for s in t.split("\n") if s != ""] for i, t in docs}
    df = Counter()
    for i, ss in spans.items():
        for s in set(ss):
            df[s] += 1
    kept = {i: [s for s in ss if df[s] <= max_doc_freq] for i, ss in spans.items()}
    return spans, kept, df


@settings(max_examples=100, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["nav", "menu", "a", "b", "c", "d"]), max_size=6),
        min_size=1,
        max_size=12,
    ),
    k=st.integers(1, 4),
)
def test_boilerplate_replica_laws(docs, k):
    corpus = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    spans, kept, df = _boiler_replica(corpus, k)
    for i in spans:
        assert len(kept[i]) <= len(spans[i])
        dropped = [s for s in spans[i] if df[s] > k]
        assert len(kept[i]) + len(dropped) == len(spans[i])
    _, kept_looser, _ = _boiler_replica(corpus, k + 1)
    for i in spans:
        assert len(kept_looser[i]) >= len(kept[i])


# ---------------------------------------------------------------------------
# top-k recall bounds: 0 <= recall <= 1 and n_common <= min(n_exact,
# n_approx) for any pair of relations (set replica of the join+count).
# ---------------------------------------------------------------------------

@settings(max_examples=100, deadline=None)
@given(
    exact=st.sets(st.integers(0, 20), min_size=1, max_size=10),
    approx=st.sets(st.integers(0, 20), max_size=10),
)
def test_topk_recall_bounds_law(exact, approx):
    n_common = len(exact & approx)
    recall = n_common / len(exact)
    assert 0.0 <= recall <= 1.0
    assert n_common <= len(exact) and n_common <= len(approx)


# ---------------------------------------------------------------------------
# compressed-embedding laws (plain-Python replicas of quantized.py kernels;
# Spark equivalence is pinned by tests/test_quantized.py + the q135/q136
# oracles — here hypothesis explores the vector space)
# ---------------------------------------------------------------------------

def _int8_codes(x):
    am = max(abs(v) for v in x)
    scale = am / 127.0 if am / 127.0 > 0 else 1.0  # quotient guard: subnormal am underflows
    return [math.floor(v / scale + 0.5) for v in x], scale


@settings(max_examples=200, deadline=None)
@given(st.lists(st.floats(-1e3, 1e3, allow_nan=False), min_size=2, max_size=64))
def test_int8_quantization_laws(x):
    codes, scale = _int8_codes(x)
    # codes bounded; reconstruction within half a step per component
    assert all(-127 <= c <= 127 for c in codes)
    assert all(abs(c * scale - v) <= scale / 2 + 1e-12 for c, v in zip(codes, x))
    # scale-invariance of the codes (absmax normalization)
    if any(v != 0 for v in x):
        codes2, _ = _int8_codes([v * 3.0 for v in x])
        assert codes == codes2


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.floats(-10, 10, allow_nan=False), min_size=4, max_size=64),
    st.lists(st.floats(-10, 10, allow_nan=False), min_size=4, max_size=64),
)
def test_sign_hamming_laws(a, b):
    n = min(len(a), len(b))
    a, b = a[:n], b[:n]
    ham = sum((x >= 0) != (y >= 0) for x, y in zip(a, b))
    # symmetric, bounded, zero on self
    assert ham == sum((y >= 0) != (x >= 0) for y, x in zip(b, a))
    assert 0 <= ham <= n
    assert sum((x >= 0) != (x >= 0) for x in a) == 0
    # triangle inequality through any third vector (XOR metric)
    c = [-v for v in a]
    ham_ac = sum((x >= 0) != (y >= 0) for x, y in zip(a, c))
    ham_cb = sum((x >= 0) != (y >= 0) for x, y in zip(c, b))
    assert ham <= ham_ac + ham_cb
